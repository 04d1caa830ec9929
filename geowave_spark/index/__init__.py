from geowave_spark.index.zorder import (  # noqa: F401
    cells_of_points,
    grid_coord,
    morton_decode,
    morton_encode,
    bbox_ranges,
)
