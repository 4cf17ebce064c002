from pgosm_flex_spark.layers.registry import (  # noqa: F401
    LAYERSETS,
    build_layer_tables,
    layerset_layers,
    resolve_layerset_path,
)
