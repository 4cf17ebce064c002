"""The benchmark's own tests: its output checks accept correct outputs and
reject corrupted ones (dropped or moved rows), and span self times handle
children that overlap on other threads. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import oracle  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from pgosm_flex_spark import fixtures  # noqa: E402


def _truth(n: int, start: int = 5_000_000) -> pd.DataFrame:
    ll = np.array([fixtures.point_lonlat(i) for i in range(start, start + n)]).round(7)
    return pd.DataFrame({
        "image_id": [f"img{i:012d}" for i in range(start, start + n)],
        "lon": ll[:, 0], "lat": ll[:, 1],
    })


def _oracle_pairs(truth: pd.DataFrame, polygons) -> pd.DataFrame:
    pairs, _ = oracle.pip_pairs(truth["lon"], truth["lat"], polygons)
    rows = sorted(pairs)
    return pd.DataFrame({
        "image_id": [truth["image_id"].iloc[i] for i, _ in rows],
        "osm_id": [p for _, p in rows],
    })


@pytest.fixture(scope="module")
def pip_case():
    truth = _truth(400)
    polygons = oracle.admin_polygons()
    return truth, polygons, _oracle_pairs(truth, polygons)


def test_pip_check_accepts_oracle_output(pip_case):
    truth, polygons, stored = pip_case
    assert len(stored) > 4 * len(truth)  # every point sits in most hierarchy levels
    assert oracle.check_pip(stored, truth, polygons) == []


def test_pip_check_rejects_dropped_row(pip_case):
    truth, polygons, stored = pip_case
    assert oracle.check_pip(stored.drop(index=17), truth, polygons)


def test_pip_check_rejects_moved_rows(pip_case):
    truth, polygons, stored = pip_case
    moved = stored.copy()
    moved.loc[3, "image_id"] = moved.loc[3 + 40, "image_id"] if moved.loc[43, "image_id"] != moved.loc[3, "image_id"] else truth["image_id"].iloc[-1]
    assert oracle.check_pip(moved, truth, polygons)
    other = stored.copy()
    other.loc[5, "osm_id"] = other.loc[5, "osm_id"] + 1
    assert oracle.check_pip(other, truth, polygons)


def test_pip_ray_casting_matches_rectangles():
    truth = _truth(300)
    for pid, rings in oracle.admin_polygons()[:30]:
        (x0, y0), (x1, y1) = rings[0].min(0), rings[0].max(0)
        inside = ((truth["lon"] > x0) & (truth["lon"] < x1) & (truth["lat"] > y0) & (truth["lat"] < y1)).to_numpy()
        pairs, _ = oracle.pip_pairs(truth["lon"], truth["lat"], [(pid, rings)])
        assert {i for i, _ in pairs} == set(np.nonzero(inside)[0].tolist())


@pytest.fixture(scope="module")
def knn_case():
    feats = _truth(300, start=100).rename(columns={"image_id": "feat_id"})
    sample = _truth(50)
    rows = []
    for pid, lon, lat in sample.itertuples(index=False):
        d = oracle.haversine_m(lon, lat, feats["lon"], feats["lat"])
        for rank, j in enumerate(np.lexsort((feats["feat_id"], d))[:3], 1):
            rows.append((pid, feats["feat_id"].iloc[j], float(d[j]), rank))
    stored = pd.DataFrame(rows, columns=["image_id", "feat_id", "distance_m", "knn_rank"])
    return stored, sample, feats


def test_knn_check_accepts_oracle_output(knn_case):
    stored, sample, feats = knn_case
    assert oracle.check_knn(stored, sample, feats, 3) == []


def test_knn_check_rejects_dropped_and_moved_rows(knn_case):
    stored, sample, feats = knn_case
    assert oracle.check_knn(stored.drop(index=4), sample, feats, 3)
    far = stored.copy()
    far.loc[0, "feat_id"] = stored.loc[stored["image_id"] != stored.loc[0, "image_id"], "feat_id"].iloc[-1]
    assert oracle.check_knn(far, sample, feats, 3)
    longer = stored.copy()
    longer.loc[1, "distance_m"] += 1.0
    assert oracle.check_knn(longer, sample, feats, 3)


def test_tiles_check():
    truth = _truth(200)
    fx, fy = oracle.tile_xy(truth["lon"], truth["lat"], 12)
    stored = pd.DataFrame({"image_id": truth["image_id"], "tile_z12_x": np.floor(fx).astype(int),
                           "tile_z12_y": np.floor(fy).astype(int)})
    assert oracle.check_tiles(stored, truth, 12) == []
    assert oracle.check_tiles(stored.drop(index=9), truth, 12)
    moved = stored.copy()
    moved.loc[2, "tile_z12_y"] += 1
    assert oracle.check_tiles(moved, truth, 12)


def test_hierarchy_check():
    expected = oracle.admin_hierarchy()
    stored = expected.assign(nest_level=expected["osm_id_path"].map(len))[
        ["osm_id", "nest_level", "osm_id_path", "innermost"]
    ]
    assert stored["nest_level"].max() == len(fixtures.ADMIN_GRIDS)
    assert oracle.check_hierarchy(stored, expected) == []
    assert oracle.check_hierarchy(stored.drop(index=40), expected)
    moved = stored.copy()
    moved.at[300, "osm_id_path"] = moved.at[301, "osm_id_path"]  # a polygon under the wrong parent
    assert oracle.check_hierarchy(moved, expected)
    flipped = stored.copy()
    flipped.loc[0, "innermost"] = True  # the country contains every other polygon
    assert oracle.check_hierarchy(flipped, expected)


def test_table_counts():
    assert oracle.check_table_counts({"a": 6, "b": 0}, {"a": 3, "b": 0}, 2) == []
    assert oracle.check_table_counts({"a": 5, "b": 0}, {"a": 3, "b": 0}, 2)


def _write_units(out: str, pairs: pd.DataFrame, units: dict[str, int]) -> None:
    for unit, g in pairs.groupby(pairs["image_id"].map(units)):
        d = os.path.join(out, "image_place_pairs", f"unit={unit}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(g.reset_index(drop=True)), os.path.join(d, "part-0.parquet"))


def test_append_check_rejects_changed_untouched_unit_and_moved_rows(tmp_path):
    truth = _truth(600)
    truth = pd.concat([truth, truth.assign(  # a second, distant unit
        image_id=truth["image_id"] + "b", lon=truth["lon"] + 0.3)], ignore_index=True)
    cells = oracle.unit_cells(truth["lon"], truth["lat"], workloads.UNIT_RES)
    units = dict(zip(truth["image_id"], cells.tolist()))
    polygons = oracle.place_polygons()
    pairs = _oracle_pairs(truth, polygons)
    base = str(tmp_path / "base")
    _write_units(base, pairs, units)
    touched = {int(cells[0])}
    wl = workloads.AppendDiff.__new__(workloads.AppendDiff)
    wl.base = {"out": base, "unscaled": {}, "problems": []}
    wl.touched = touched
    wl.touched_truth = truth[np.isin(cells, list(touched))]
    wl.base_units = {u: oracle.dir_digests(d) for u, d in oracle.unit_dirs(os.path.join(base, "image_place_pairs")).items()}
    assert len(wl.base_units) > len(touched)

    def fresh(name):
        out = str(tmp_path / name)
        shutil.copytree(base, out)
        return out

    assert wl.check(fresh("ok"), {}) == []

    out = fresh("untouched")
    other = next(u for u in wl.base_units if u not in touched)
    _write_units(out, pairs[pairs["image_id"].map(units) == other].iloc[1:], units)
    assert any("untouched unit" in p for p in wl.check(out, {}))

    out = fresh("dropped")
    _write_units(out, pairs[pairs["image_id"].map(units).isin(touched)].iloc[1:], units)
    assert any("missing" in p for p in wl.check(out, {}))


def test_self_times_with_overlapping_threads():
    s = lambda i, name, parent, a, b: {"id": i, "name": name, "parent": parent, "start": a, "end": b, "counts": {}}  # noqa: E731
    tree = [
        s(0, "job", None, 0.0, 10.0),
        s(1, "layers.map", 0, 1.0, 4.0),       # thread A
        s(2, "sinks.export", 0, 3.0, 8.0),     # thread B, overlaps 1
        s(3, "sinks.write", 2, 5.0, 6.0),
        s(4, "plans.checkpoint", 0, 9.5, 11.0),  # runs past the parent's end
    ]
    selfs = spans.self_times(tree)
    assert selfs[0] == pytest.approx(10.0 - (7.0 + 0.5))
    assert selfs[2] == pytest.approx(4.0)
    assert selfs[1] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)
