from .cell_stream import (  # noqa: F401
    assign_cells,
    streaming_first_seen,
    streaming_knn,
    streaming_region_rollup,
    streaming_sessions,
    windowed_cell_counts,
)
