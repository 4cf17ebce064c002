"""The append workload's base, built in one process and one session: a
create-mode import of the base images, then the row counts of every exported
layer table of the unscaled fixture world through the per-table builders
(not the routed export the import job uses), which the stored tables are
checked against.

    python3 perfbench/base.py COUNTS.json IMPORT_JOB_ARG...
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from pgosm_flex_spark import fixtures  # noqa: E402
from pgosm_flex_spark.layers import build_layer_tables  # noqa: E402
from pgosm_flex_spark.operators import relation_member_dedup  # noqa: E402
from pgosm_flex_spark.session import get_spark  # noqa: E402

import workloads  # noqa: E402


def main(counts_path: str, import_argv: list[str]) -> int:
    rc = workloads.run_import(ROOT, import_argv)
    if rc != 0:
        return rc
    spark = get_spark("perfbench-base")  # the import job's session
    try:
        tables = build_layer_tables(fixtures.osm_objects_df(spark), layerset="everything")
        tables["place_polygon"] = relation_member_dedup(tables["place_polygon"])
        counts = {name: df.count() for name, df in sorted(tables.items())}
    finally:
        spark.stop()
    with open(counts_path, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2:]))
