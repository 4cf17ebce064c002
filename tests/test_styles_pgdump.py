"""pg_dump COPY source + QGIS layer-styles load semantics.

Mirrors /root/reference/docker/qgis_styles.py (staging load → catalog
retarget → anti-join insert) and PostgreSQL's COPY text format.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark.sources.pg_dump import (
    _decode_field,
    list_copy_tables,
    read_pg_dump_copy,
)
from pgosm_flex_spark.styles import (
    LAYER_STYLES_SCHEMA,
    load_qgis_styles,
    merge_styles,
    placeholder_styles_df,
    staging_from_pg_dump,
)

REF_DUMP = "/root/reference/db/qgis-style/layer_styles.sql"


# ---------------------------------------------------------------------------
# COPY text-format decoding
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "raw,want",
    [
        ("plain", "plain"),
        ("\\N", None),
        ("a\\tb", "a\tb"),
        ("line1\\nline2", "line1\nline2"),
        ("back\\\\slash", "back\\slash"),
        ("\\101", "A"),          # octal
        ("\\x41", "A"),          # hex
        ("\\x4zz", "\x04zz"),    # 1-digit hex followed by non-hex
        # \N is only NULL as the WHOLE field; embedded it is an unknown
        # escape and the char is kept (PostgreSQL behavior)
        ("mix\\t\\N", "mix\tN"),
    ],
)
def test_decode_field(raw, want):
    assert _decode_field(raw) == want


@pytest.fixture()
def two_block_dump(tmp_path):
    p = tmp_path / "dump.sql"
    p.write_text(
        "-- pg_dump\nSET client_encoding = 'UTF8';\n\n"
        "COPY public.seeds (id, name, note) FROM stdin;\n"
        "1\talpha\t\\N\n"
        "2\tbe\\tta\tx\\ny\n"
        "\\.\n\n"
        "COPY other.seeds (id) FROM stdin;\n"
        "9\n"
        "\\.\n\n"
        "-- done\n"
    )
    return str(p)


def test_list_and_read_blocks(spark, two_block_dump):
    assert list_copy_tables(two_block_dump) == ["public.seeds", "other.seeds"]
    with pytest.raises(ValueError, match="2 COPY blocks match"):
        read_pg_dump_copy(spark, two_block_dump, table="seeds")
    df = read_pg_dump_copy(spark, two_block_dump, table="public.seeds")
    rows = {r["id"]: (r["name"], r["note"]) for r in df.collect()}
    assert rows == {"1": ("alpha", None), "2": ("be\tta", "x\ny")}
    assert read_pg_dump_copy(spark, two_block_dump, "other.seeds").count() == 1
    with pytest.raises(ValueError, match="no COPY block"):
        read_pg_dump_copy(spark, two_block_dump, table="nope")


def test_unterminated_block_raises(spark, tmp_path):
    p = tmp_path / "bad.sql"
    p.write_text("COPY t (a) FROM stdin;\n1\n")
    with pytest.raises(ValueError, match="not terminated"):
        read_pg_dump_copy(spark, str(p), table="t")


def test_field_count_mismatch_raises(spark, tmp_path):
    p = tmp_path / "bad.sql"
    p.write_text("COPY t (a, b) FROM stdin;\n1\n\\.\n")
    with pytest.raises(ValueError, match="declared 2"):
        read_pg_dump_copy(spark, str(p), table="t")


@pytest.mark.skipif(not os.path.exists(REF_DUMP), reason="reference absent")
def test_reads_reference_layer_styles_artifact(spark):
    """The compatibility claim: the reference's shipped artifact parses."""
    staging = staging_from_pg_dump(spark, REF_DUMP)
    rows = staging.orderBy("id").collect()
    assert [r["f_table_name"] for r in rows] == [
        "road_line", "building_polygon", "landuse_polygon", "vplace_polygon",
    ]
    assert all(r["styleqml"].startswith("<!DOCTYPE qgis") for r in rows)
    assert all(r["useasdefault"] for r in rows)
    # escapes decoded: \n sequences became real newlines (a raw COPY line
    # can never contain one)
    assert all("\n" in r["styleqml"] for r in rows)
    assert rows[0]["f_table_catalog"] == "pgosm"


# ---------------------------------------------------------------------------
# layer_styles merge semantics
# ---------------------------------------------------------------------------

def test_load_styles_fresh_then_idempotent(spark, tmp_path):
    bundle = str(tmp_path / "bundle")
    os.makedirs(bundle)
    merged = load_qgis_styles(spark, bundle)
    got = merged.orderBy("id").collect()
    assert [r["id"] for r in got] == [1, 2, 3, 4]
    # re-run: anti-join keeps it at 4 (reference re-loads styles every
    # import; customized/present rows are never duplicated or overwritten)
    again = load_qgis_styles(spark, bundle).orderBy("id").collect()
    assert [(r["id"], r["f_table_name"], r["stylename"]) for r in again] == [
        (r["id"], r["f_table_name"], r["stylename"]) for r in got
    ]


def test_load_styles_preserves_customized_and_appends_new(spark, tmp_path):
    bundle = str(tmp_path / "bundle")
    os.makedirs(bundle)
    custom = spark.createDataFrame(
        [(1, "pgosm", "osm", "road_line", "geom", "osm_road_line",
          "<qgis>CUSTOM</qgis>", None, True, "user tweak", "me", None, None,
          "Normal")],
        schema=LAYER_STYLES_SCHEMA,
    )
    custom.write.parquet(os.path.join(bundle, "layer_styles"))
    merged = load_qgis_styles(spark, bundle).orderBy("id").collect()
    assert len(merged) == 4
    by_key = {(r["f_table_name"], r["stylename"]): r for r in merged}
    # the customized row survived untouched with its original id
    kept = by_key[("road_line", "osm_road_line")]
    assert kept["styleqml"] == "<qgis>CUSTOM</qgis>" and kept["id"] == 1
    # the three new keys got SERIAL ids after the existing max
    new_ids = sorted(r["id"] for r in merged if r["styleqml"] != "<qgis>CUSTOM</qgis>")
    assert new_ids == [2, 3, 4]


def test_load_styles_db_name_retarget(spark, tmp_path):
    bundle = str(tmp_path / "bundle")
    os.makedirs(bundle)
    merged = load_qgis_styles(spark, bundle, db_name="mydb")
    cats = {r["f_table_catalog"] for r in merged.collect()}
    assert cats == {"mydb"}


def test_merge_styles_pure(spark):
    existing = placeholder_styles_df(spark).filter(F.col("id") <= 2)
    merged = merge_styles(existing.toPandas(), placeholder_styles_df(spark).toPandas())
    rows = [r for _, r in merged.sort_values("id").iterrows()]
    assert [r["id"] for r in rows] == [1, 2, 3, 4]
    assert {r["f_table_name"] for r in rows} == {
        "road_line", "building_polygon", "landuse_polygon", "vplace_polygon",
    }


def test_crlf_dump_parses(spark, tmp_path):
    p = tmp_path / "crlf.sql"
    p.write_bytes(
        b"COPY t (a, b) FROM stdin;\r\n1\tx\r\n2\t\\N\r\n\\.\r\n"
    )
    df = read_pg_dump_copy(spark, str(p), table="t")
    assert {r["a"]: r["b"] for r in df.collect()} == {"1": "x", "2": None}


def test_load_styles_corrupt_existing_raises(spark, tmp_path):
    # a present-but-unreadable layer_styles table must RAISE, never be
    # treated as empty (the overwrite would destroy customized styles)
    bundle = str(tmp_path / "bundle")
    os.makedirs(os.path.join(bundle, "layer_styles"))
    with open(os.path.join(bundle, "layer_styles", "part-0.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception):
        load_qgis_styles(spark, bundle)


# ---------------------------------------------------------------------------
# property: decoder == inverse of PostgreSQL's COPY escaping
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _pg_escape(v: str | None) -> str:
    """PostgreSQL's COPY TO text-format escaping (COPY docs): NULL → \\N;
    backslash doubles; control delimiters become named escapes."""
    if v is None:
        return "\\N"
    return (
        v.replace("\\", "\\\\")
        .replace("\b", "\\b").replace("\f", "\\f").replace("\n", "\\n")
        .replace("\r", "\\r").replace("\t", "\\t").replace("\v", "\\v")
    )


field_strategy = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters=["\x00"]
        ),
        max_size=40,
    ),
)


@given(st.lists(field_strategy, min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_decode_inverts_pg_escape(fields):
    from pgosm_flex_spark.sources.pg_dump import _decode_field

    line = "\t".join(_pg_escape(f) for f in fields)
    got = [_decode_field(x) for x in line.split("\t")]
    assert got == list(fields)
