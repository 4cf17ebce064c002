"""Brute-force oracles and output checks — numpy and pyarrow only.

Written independently of the program's own kernels: ray casting over the
fixture polygons for point-in-polygon, bounding-box containment of the
(rectangular) admin polygons for their hierarchy, exhaustive haversine for
kNN, the slippy-map formula for tiles and the cell-id layout for checkpoint
units.
Every ``check_*`` function returns a list of problems; empty means correct.
"""

from __future__ import annotations

import hashlib
import math
import os
import struct

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pgosm_flex_spark import fixtures

EARTH_RADIUS_M = 6_371_008.8  # IUGG mean radius, the program's documented constant
EDGE_EPS = 1e-9  # degrees: a point this close to an edge is a boundary tie
TILE_EPS = 1e-9  # tile-grid units: a coordinate this close to a tile edge is a tie


def rings_of_wkb(b: bytes) -> list[np.ndarray]:
    """Rings of a WKB Polygon as (n, 2) lon/lat arrays."""
    order = "<" if b[0] == 1 else ">"
    (gtype,) = struct.unpack_from(order + "I", b, 1)
    if gtype != 3:
        raise ValueError(f"expected a WKB Polygon, got type {gtype}")
    (n_rings,) = struct.unpack_from(order + "I", b, 5)
    off, rings = 9, []
    for _ in range(n_rings):
        (n,) = struct.unpack_from(order + "I", b, off)
        off += 4
        rings.append(np.frombuffer(b, order + "f8", 2 * n, off).reshape(n, 2))
        off += 16 * n
    return rings


def admin_polygons() -> list[tuple[int, list[np.ndarray]]]:
    """The fixtures' nested admin hierarchy as (osm_id, rings)."""
    return [
        (int(r.osm_id), rings_of_wkb(bytes(r.geom_wkb)))
        for r in fixtures.admin_polygons().itertuples()
    ]


def place_polygons() -> list[tuple[int, list[np.ndarray]]]:
    """What the import job joins against: the admin polygons plus the
    boundary relations, minus the ways those relations list as members."""
    rel = fixtures.relations_with_members()
    members = {int(m) for ms in rel["member_ids"] for m in ms}
    polys = [(i, r) for i, r in admin_polygons() if i not in members]
    polys += [(int(r.osm_id), rings_of_wkb(bytes(r.geom_wkb))) for r in rel.itertuples()]
    return polys


def admin_hierarchy() -> pd.DataFrame:
    """Expected admin hierarchy of the fixture polygons: per osm_id, the ids
    of every polygon containing it (itself included) by admin level, and
    whether it contains no other polygon. The fixture polygons are
    axis-aligned rectangles, so containment is bounding-box containment."""
    meta = fixtures.admin_polygons()
    ids = meta["osm_id"].to_numpy(np.int64)
    levels = np.array([int(t["admin_level"]) for t in meta["tags"]])
    boxes = np.array([np.r_[r[0].min(0), r[0].max(0)] for _, r in admin_polygons()])
    # inside[i, j]: polygon i lies within polygon j
    inside = (
        (boxes[:, None, 0] >= boxes[None, :, 0]) & (boxes[:, None, 1] >= boxes[None, :, 1])
        & (boxes[:, None, 2] <= boxes[None, :, 2]) & (boxes[:, None, 3] <= boxes[None, :, 3])
    )
    paths = []
    for i in range(len(ids)):
        js = np.nonzero(inside[i])[0]
        paths.append([int(ids[j]) for j in js[np.lexsort((ids[js], levels[js]))]])
    contains_other = (inside.sum(0) - 1) > 0
    return pd.DataFrame({"osm_id": ids, "osm_id_path": paths, "innermost": ~contains_other})


def check_hierarchy(stored: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """``stored``: (osm_id, nest_level, osm_id_path, innermost) — one row per
    admin polygon."""
    problems = []
    if len(stored) != len(expected) or set(stored["osm_id"]) != set(expected["osm_id"]):
        problems.append(f"hierarchy: {len(stored)} rows, want one per each of {len(expected)} polygons")
    want = expected.set_index("osm_id")
    bad = 0
    for osm_id, level, path, innermost in stored.itertuples(index=False):
        if osm_id not in want.index:
            continue
        exp = want.loc[osm_id]
        got = [int(x) for x in path] if path is not None else []
        if got != exp["osm_id_path"] or level != len(got) or bool(innermost) != bool(exp["innermost"]):
            bad += 1
    if bad:
        problems.append(f"hierarchy: {bad} polygons with a wrong containment path or innermost flag")
    return problems


def _segment_distance(px, py, x0, y0, x1, y1):
    dx, dy = x1 - x0, y1 - y0
    L2 = dx * dx + dy * dy
    t = np.clip(((px - x0) * dx + (py - y0) * dy) / L2, 0.0, 1.0) if L2 else 0.0
    return np.hypot(px - (x0 + t * dx), py - (y0 + t * dy))


def pip_pairs(lon, lat, polygons) -> tuple[set, set]:
    """Even-odd ray casting of every point against every polygon.

    Returns ``(pairs, ties)``: sets of (point index, polygon id); ``ties``
    are points within EDGE_EPS of that polygon's boundary, where either
    answer is acceptable."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    pairs, ties = set(), set()
    for pid, rings in polygons:
        allpts = np.vstack(rings)
        (xmin, ymin), (xmax, ymax) = allpts.min(0), allpts.max(0)
        idx = np.nonzero(
            (lon >= xmin - EDGE_EPS) & (lon <= xmax + EDGE_EPS)
            & (lat >= ymin - EDGE_EPS) & (lat <= ymax + EDGE_EPS)
        )[0]
        if not len(idx):
            continue
        px, py = lon[idx], lat[idx]
        inside = np.zeros(len(idx), dtype=bool)
        near = np.zeros(len(idx), dtype=bool)
        for ring in rings:
            for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
                crosses = (y0 > py) != (y1 > py)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
                inside ^= crosses & (px < xint)
                near |= _segment_distance(px, py, x0, y0, x1, y1) < EDGE_EPS
        pairs.update((int(i), pid) for i in idx[inside & ~near])
        ties.update((int(i), pid) for i in idx[near])
    return pairs, ties


def compare_pairs(got: set, expected: set, ties: set, what: str) -> list[str]:
    missing = expected - got - ties
    extra = got - expected - ties
    if not missing and not extra:
        return []
    return [
        f"{what}: {len(missing)} missing pairs (e.g. {sorted(missing)[:3]}), "
        f"{len(extra)} unexpected pairs (e.g. {sorted(extra)[:3]})"
    ]


def check_pip(stored: pd.DataFrame, truth: pd.DataFrame, polygons, what="pip pairs") -> list[str]:
    """``stored``: (image_id, osm_id) rows; ``truth``: (image_id, lon, lat)
    of every point that should have been joined."""
    pos = {v: i for i, v in enumerate(truth["image_id"])}
    expected, ties = pip_pairs(truth["lon"].to_numpy(), truth["lat"].to_numpy(), polygons)
    unknown = [v for v in stored["image_id"] if v not in pos]
    if unknown:
        return [f"{what}: {len(unknown)} rows name points outside the checked set (e.g. {unknown[:3]})"]
    got_list = list(zip((pos[v] for v in stored["image_id"]), (int(o) for o in stored["osm_id"])))
    got = set(got_list)
    problems = compare_pairs(got, expected, ties, what)
    if len(got) != len(got_list):
        problems.append(f"{what}: {len(got_list) - len(got)} duplicate rows")
    return problems


def haversine_m(lon1, lat1, lon2, lat2):
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    h = np.sin((lat2 - lat1) / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def check_knn(stored: pd.DataFrame, sample: pd.DataFrame, feats: pd.DataFrame, k: int) -> list[str]:
    """Exhaustive k nearest features for each sample point. ``stored``:
    (image_id, feat_id, distance_m, knn_rank). Each stored rank must carry
    the oracle's rank-th distance, and its feature must lie at that
    distance (so equal-distance ties may come in either order)."""
    tol = lambda d: 1e-6 + 1e-9 * d  # noqa: E731  JVM vs numpy libm rounding
    fid_pos = {v: i for i, v in enumerate(feats["feat_id"])}
    flon, flat = feats["lon"].to_numpy(), feats["lat"].to_numpy()
    by_point = {pid: g for pid, g in stored[stored["image_id"].isin(set(sample["image_id"]))].groupby("image_id")}
    problems = []
    want = min(k, len(feats))
    for start in range(0, len(sample), 128):
        chunk = sample.iloc[start:start + 128]
        d = haversine_m(
            chunk["lon"].to_numpy()[:, None], chunk["lat"].to_numpy()[:, None],
            flon[None, :], flat[None, :],
        )
        best = np.sort(d, axis=1)[:, :want]
        for row, pid in enumerate(chunk["image_id"]):
            g = by_point.get(pid)
            if g is None or len(g) != want or sorted(g["knn_rank"]) != list(range(1, want + 1)):
                problems.append(f"knn: point {pid} has {0 if g is None else len(g)} rows, want ranks 1..{want}")
                continue
            for r, fid, dist in zip(g["knn_rank"], g["feat_id"], g["distance_m"]):
                true_d = d[row, fid_pos[fid]] if fid in fid_pos else math.inf
                exp = best[row, r - 1]
                if abs(dist - exp) > tol(exp) or abs(true_d - exp) > tol(exp):
                    problems.append(
                        f"knn: point {pid} rank {r} -> {fid} at {dist:.6f} m "
                        f"(its true distance {true_d:.6f} m), oracle {exp:.6f} m"
                    )
            if len(problems) > 20:
                return problems
    return problems


def tile_xy(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Fractional slippy-map tile coordinates."""
    n = float(1 << z)
    lat = np.radians(np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878))
    x = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n
    y = (1.0 - np.arcsinh(np.tan(lat)) / math.pi) / 2.0 * n
    return x, y


def check_tiles(stored: pd.DataFrame, truth: pd.DataFrame, z: int) -> list[str]:
    """``stored``: (image_id, tile_z{z}_x, tile_z{z}_y) — one row per point."""
    m = truth.merge(stored, on="image_id", how="outer", indicator=True)
    problems = []
    if (m["_merge"] != "both").any() or len(m) != len(truth):
        problems.append(
            f"tiles: {len(stored)} rows for {len(truth)} points "
            f"({int((m['_merge'] != 'both').sum())} unmatched ids)"
        )
        m = m[m["_merge"] == "both"]
    fx, fy = tile_xy(m["lon"], m["lat"], z)
    bad = 0
    for frac, got in ((fx, m[f"tile_z{z}_x"]), (fy, m[f"tile_z{z}_y"])):
        tie = np.abs(frac - np.round(frac)) < TILE_EPS
        bad += int(((np.floor(frac) != got.to_numpy()) & ~tie).sum())
    if bad:
        problems.append(f"tiles: {bad} tile coordinates differ from the slippy-map formula")
    return problems


def unit_cells(lon, lat, res: int) -> np.ndarray:
    """Checkpoint unit cell ids: ``(res << 58) | (x << 29) | y`` on the
    web-mercator grid (x linear in lon, y in mercator latitude)."""
    n = 1 << res
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    x = np.clip(np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n), 0, n - 1)
    y = np.clip(np.floor((0.5 - np.arcsinh(np.tan(np.radians(lat))) / (2 * math.pi)) * n), 0, n - 1)
    return (np.int64(res) << np.int64(58)) | (x.astype(np.int64) << np.int64(29)) | y.astype(np.int64)


def dir_digests(root: str) -> dict[str, str]:
    """relative path → sha1 of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha1(f.read()).hexdigest()
    return out


def unit_dirs(pairs_dir: str) -> dict[int, str]:
    """unit cell → its ``unit=<cell>`` output directory."""
    return {
        int(name.split("=", 1)[1]): os.path.join(pairs_dir, name)
        for name in os.listdir(pairs_dir)
        if name.startswith("unit=")
    }


def read_parquet_dir(path: str, columns: list[str]) -> pd.DataFrame:
    """Rows of every parquet part under ``path`` (hidden and ``_`` files and
    directories skipped, as Spark's committer leaves them)."""
    parts = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        parts += [
            os.path.join(d, f) for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    if not parts:
        return pd.DataFrame({c: [] for c in columns})
    return pd.concat(
        [pq.read_table(p, columns=columns).to_pandas() for p in parts], ignore_index=True
    )


def stored_row_counts(out_dir: str, tables: list[str]) -> dict[str, int]:
    """Row count of each exported layer table, from parquet footers: routed
    tables live under ``routed/layer_table=<name>/``, the rest (post-processed
    overrides) under ``<name>/``."""
    counts = {}
    for name in tables:
        n = 0
        for base in (os.path.join(out_dir, "routed", f"layer_table={name}"), os.path.join(out_dir, name)):
            for d, _, files in os.walk(base):
                for f in files:
                    if f.endswith(".parquet") and not f.startswith(("_", ".")):
                        n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        counts[name] = n
    return counts


def check_table_counts(got: dict[str, int], unscaled: dict[str, int], k: int) -> list[str]:
    bad = {n: (got.get(n), k * c) for n, c in unscaled.items() if got.get(n) != k * c}
    return [f"layer tables: stored vs {k}x unscaled rows differ: {bad}"] if bad else []


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
