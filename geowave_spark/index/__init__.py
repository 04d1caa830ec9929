from geowave_spark.index.zorder import (  # noqa: F401
    cell_of_point,
    cells_of_points,
    decode_cell,
    grid_coord,
    morton_decode,
    morton_encode,
    parent_cell,
    bbox_ranges,
)
