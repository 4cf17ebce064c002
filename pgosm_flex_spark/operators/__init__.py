from pgosm_flex_spark.operators.pip_join import build_polygon_cover, pip_join  # noqa: F401
from pgosm_flex_spark.operators.dedup import relation_member_dedup  # noqa: F401
from pgosm_flex_spark.operators.nested import build_nested_admin_polygons  # noqa: F401
from pgosm_flex_spark.operators.knn import knn_join_adaptive  # noqa: F401
from pgosm_flex_spark.operators.tiles import assign_tiles  # noqa: F401
from pgosm_flex_spark.operators.combined import collapse_to_points  # noqa: F401
