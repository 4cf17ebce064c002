from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pgosm_flex_spark.index import cells, tiles


def test_cell_col_matches_numpy_oracle(spark):
    rng = np.random.default_rng(42)
    lon = rng.uniform(-179.9, 179.9, 5000)
    lat = rng.uniform(-84.9, 84.9, 5000)
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    df = spark.createDataFrame(pdf)
    for res in (3, 9, 15):
        got = (
            df.select(cells.cell_col(F.col("lon"), F.col("lat"), res).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        want = cells.cells_of_points(lon, lat, res)
        assert (got == want).all(), f"res={res}"


def test_tile_cols_basic(spark):
    pdf = pd.DataFrame({"lon": [-77.03, 0.0, 139.69], "lat": [38.9, 0.0, 35.68]})
    df = spark.createDataFrame(pdf)
    out = df.select(
        tiles.tile_x_col(F.col("lon"), 10).alias("x"),
        tiles.tile_y_col(F.col("lat"), 10).alias("y"),
    ).collect()
    # known slippy-map tiles: DC z10 = (292, 391); null island = (512, 512); Tokyo = (909, 403)
    assert (out[0]["x"], out[0]["y"]) == (292, 391)
    assert (out[1]["x"], out[1]["y"]) == (512, 512)
    assert (out[2]["x"], out[2]["y"]) == (909, 403)
