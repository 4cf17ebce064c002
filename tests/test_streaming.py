"""Structured Streaming end-to-end: the stateful first-seen dedup and the
stream import, both driven through real readStream/writeStream with
availableNow triggers (SURVEY.md §2.8)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.streaming.stateful import run_first_seen_stream


def _write_json(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_first_seen_dedup_across_restarts(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: keys 1..5, key 1 duplicated in-batch (ids b, a -> 'a' wins)
    _write_json(
        os.path.join(inp, "b1.json"),
        [{"phash": 1, "image_id": "b"}, {"phash": 1, "image_id": "a"}]
        + [{"phash": k, "image_id": f"k{k}"} for k in range(2, 6)],
    )
    q = run_first_seen_stream(spark, inp, ckpt, out)
    q.awaitTermination(120)
    got1 = {r["phash"]: r["image_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1: "a", 2: "k2", 3: "k3", 4: "k4", 5: "k5"}

    # batch 2 (new files, SAME checkpoint): repeats of 1..3 must be
    # suppressed by restored state; new key 6 emits
    _write_json(
        os.path.join(inp, "b2.json"),
        [{"phash": k, "image_id": f"late{k}"} for k in (1, 2, 3)]
        + [{"phash": 6, "image_id": "k6"}],
    )
    q2 = run_first_seen_stream(spark, inp, ckpt, out)
    q2.awaitTermination(120)
    got2 = {r["phash"]: r["image_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {**got1, 6: "k6"}
    assert len(glob.glob(os.path.join(ckpt, "state", "*"))) > 0


def test_stream_import_two_rounds_with_restart_equals_batch(spark, tmp_path):
    # --mode stream lifecycle: two availableNow rounds with a query restart
    # between, dedup state carried by the checkpoint; final MERGE output must
    # equal the batch pipeline over the deduped union
    from pgosm_flex_spark.streaming.import_stream import (
        map_batch_to_layers,
        run_stream_import,
    )

    inp = str(tmp_path / "stream_in")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    os.makedirs(inp, exist_ok=True)

    # round 1: images 0..399; round 2: 400..799 PLUS re-sends of 0..49
    # (same phash, larger ids — streaming first-seen keeps the round-1 rows)
    imgs = fixtures.images_df(spark, 800, with_pixels=False).cache()
    r1 = imgs.filter(F.col("image_id") < "img000000000400")
    dup_keys = imgs.filter(F.col("image_id") < "img000000000050").select(
        F.concat(F.lit("zz"), "image_id").alias("image_id"),
        "bytes", "w", "h", "fmt", "caption", "phash",
    )
    r2 = imgs.filter(F.col("image_id") >= "img000000000400").select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ).unionByName(dup_keys)

    r1.write.mode("append").parquet(inp)
    target = run_stream_import(spark, inp, ckpt, out, layerset="minimal", unit_res=4)
    r2.write.mode("append").parquet(inp)
    # restart: a fresh query object on the same checkpoint
    run_stream_import(spark, inp, ckpt, out, layerset="minimal", unit_res=4)

    got = spark.read.parquet(target).select(
        "image_id", "phash", "lon", "lat", F.to_json("layers").alias("layers")
    )
    # batch oracle: first-seen (min image_id per phash) over the union, then
    # the same per-batch mapping
    union = r1.unionByName(r2)
    w_min = union.groupBy("phash").agg(F.min("image_id").alias("image_id"))
    deduped = union.join(w_min, ["phash", "image_id"], "semi")
    exp = map_batch_to_layers(deduped, layerset="minimal", unit_res=4).select(
        "image_id", "phash", "lon", "lat", F.to_json("layers").alias("layers")
    )
    imgs.unpersist()
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_stream_first_seen_string_key(spark, tmp_path):
    """Regression: the output schema hardcoded the key as long — a string
    content-hash key hit an applyInPandasWithState schema mismatch."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_json(
        os.path.join(inp, "b1.json"),
        [
            {"digest": "beef", "image_id": "b"},
            {"digest": "beef", "image_id": "a"},
            {"digest": "cafe", "image_id": "c"},
        ],
    )
    q = run_first_seen_stream(
        spark, inp, ckpt, out, key_col="digest", key_type="string"
    )
    q.awaitTermination(120)
    got = {r["digest"]: r["image_id"] for r in spark.read.parquet(out).collect()}
    assert got == {"beef": "a", "cafe": "c"}
