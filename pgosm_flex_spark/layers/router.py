"""Single-scan layer dispatch — evaluate EVERY table's membership in one pass.

The reference's osm2pgsql import streams each object through all enabled
layers' Lua callbacks in one pass (flex-config/style/*.lua process_node/way/
relation); ``build_layer_tables`` re-expresses the *tables* faithfully but a
consumer that unions them (golden counts, QC coverage, monitoring) executes
one scan of the source PER TABLE — measured 44 cache scans ≈ 13 s of a 23 s
count job at 600k rows, and at 100 TB it is 44 passes over the input.

``route_layer_ids`` is the one-pass analog: a single projection evaluates all
~44 membership predicates per row (``layers.registry.layer_table_predicates``,
the same table spec ``build_layer_tables`` filters on) and explodes the
matched table names — whole-stage-codegen CASE logic, zero joins, zero extra
scans. Equivalence with the per-table frames is pinned by
tests/test_router.py (per-table id-set equality on the all-variants fixture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgosm_flex_spark.layers.registry import (
    _scoped_spec,
    _wanted_tables,
    layer_table_predicates,
)


def route_layer_ids(
    osm: DataFrame,
    layerset: str = "everything",
    id_col: str = "osm_id",
    extra_cols: list[str] | None = None,
    layerset_path: str | None = None,
) -> DataFrame:
    """(id_col, [extra_cols...,] table) — one output row per (object, table
    it belongs to), from ONE scan of ``osm``.

    ``extra_cols`` carries additional source columns through the explode
    (e.g. ``geom_type`` for per-type rollups). Rows matching no table are
    dropped (explode of an empty array).
    """
    preds = layer_table_predicates(layerset, layerset_path)
    routes = F.array(*[F.when(preds[n], F.lit(n)) for n in sorted(preds)])
    carry = [F.col(id_col)] + [F.col(c) for c in (extra_cols or [])]
    return osm.select(*carry, F.explode(F.array_compact(routes)).alias("table"))


def layer_membership(
    osm: DataFrame,
    layerset: str = "everything",
    exclude: tuple[str, ...] = (),
    layerset_path: str | None = None,
):
    """Boolean Column: row belongs to at least one table of the layerset
    (three-valued NULL counts as non-member, like DataFrame.filter). The
    zero-shuffle building block for coverage anti-joins: features NOT in any
    layer = ``osm.filter(~layer_membership(osm))`` — no union, no distinct,
    no join. ``exclude`` drops tables from the check (the QC coverage rule
    ignores the tags/unitable escape hatches)."""
    preds = layer_table_predicates(layerset, layerset_path)
    out = F.lit(False)
    for name, pred in preds.items():
        if name in exclude:
            continue
        out = out | F.coalesce(pred, F.lit(False))
    return out


def route_layer_rows(
    osm: DataFrame,
    layerset: str = "everything",
    layerset_path: str | None = None,
    language: str | None = None,
) -> DataFrame:
    """ONE scan of ``osm`` → every table's FULL output rows, stacked on a
    superset schema with a ``layer_table`` discriminator — the fused form of
    the whole dispatch stage: where ``build_layer_tables`` + per-table writes
    scan the source once per table (45 passes at 100 TB), this evaluates all
    membership predicates AND all projections in one whole-stage-codegen
    pass. sinks.export_bundle writes it ``partitionBy("layer_table", ...)``
    as the export bundle, and each table is a partition-pruned,
    column-pruned slice with its exact ``build_layer_tables`` schema
    (``read_layer_table``); absent columns are typed NULLs that parquet
    stores for free.

    Column derivation: per superset column, one CASE over the tables that
    define it, grouped by identical expression text — most columns collapse
    to one or two branches (e.g. ``name`` is the same expr for every layer),
    so the projection stays compact. Row-level equality with every
    ``build_layer_tables`` table is pinned by tests/test_router.py.

    Predicates and projections come from ONE spec build in ``language``'s
    name scope, as in ``build_layer_tables``: a name-dependent predicate
    (e.g. ``poi_combined_point``'s named-building branch) must see the same
    ``name`` the projection writes.
    """
    spec = _scoped_spec(language)
    names = sorted(_wanted_tables(layerset, layerset_path))
    preds = {n: spec[n][0] for n in names}
    cols = {n: spec[n][1] for n in names}
    routes = F.array(*[F.when(preds[n], F.lit(n)) for n in names])
    # array_compact lowers to a higher-order filter() which keeps this
    # Generate out of whole-stage codegen — but the codegen-friendly
    # alternative (explode all 45 slots + IS NOT NULL filter) measured
    # SLOWER (9.2 vs 10.5 s per 2M rows: Generate doesn't fuse either way,
    # and 45-slot inflation costs more than interpreted compact)
    routed = osm.select("*", F.explode(F.array_compact(routes)).alias("layer_table"))

    superset: list[str] = []
    for n in names:
        for c in cols[n]:
            if c not in superset:
                superset.append(c)

    out_cols = [F.col("layer_table")]
    for c in superset:
        by_expr: dict[str, tuple[list[str], object]] = {}
        for n in names:
            e = cols[n].get(c)
            if e is not None:
                key = str(e)
                by_expr.setdefault(key, ([], e))[0].append(n)
        expr = None
        for tbls, e in by_expr.values():
            cond = F.col("layer_table").isin(tbls)
            expr = F.when(cond, e) if expr is None else expr.when(cond, e)
        out_cols.append(expr.alias(c))
    return routed.select(*out_cols)


def read_layer_table(
    spark,
    routed_dir: str,
    name: str,
    layerset: str = "everything",
    layerset_path: str | None = None,
    language: str | None = None,
    srid: int = 4326,
):
    """Reconstruct one table from an export bundle's ``routed`` dir:
    partition-pruned scan + the table's exact column set (schema parity with
    build_layer_tables output; place_polygon holds the rows the export was
    given, relation-deduped in the import job). For a bundle exported with
    ``srid=3857``
    pass the same srid so the projected ``x``/``y`` meter columns survive
    the projection back to the table schema."""
    from pgosm_flex_spark.geometry.srid import _check_srid
    from pgosm_flex_spark.layers.registry import layer_table_columns

    _check_srid(srid)
    cols = list(layer_table_columns(layerset, layerset_path, language)[name])
    if srid != 4326:
        cols += ["x", "y"]
    return (
        spark.read.parquet(routed_dir)
        .filter(F.col("layer_table") == name)
        .select(*cols)
    )
