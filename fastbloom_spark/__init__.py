"""fastbloom_spark — PySpark-native distributed sketch / approximate-aggregation
library with the capabilities of tomtomwombat/fastbloom, grown to cluster scale.

Built from scratch Spark-first (NOT a port): sketches are mergeable aggregators
over DataFrames — per-partition numpy builds inside Arrow-vectorized pandas
UDFs, associative word-wise merges, broadcast probes registered for SQL.
"""

from .config import (
    BloomConfig,
    expected_density,
    expected_false_pos,
    optimal_hashes,
    optimal_size,
)
from .deploy import freeze_reused_worker_heap, install_zip_directory_cache
from .local import BloomFilter

# Python workers import the package when the first library UDF unpickles;
# from then on their per-task import-cache invalidation skips unchanged
# zip archives (deploy.install_zip_directory_cache), and a reused worker's
# per-task gc.collect() skips its import-time heap
# (deploy.freeze_reused_worker_heap).
install_zip_directory_cache()
freeze_reused_worker_heap()

__version__ = "0.1.0"

__all__ = [
    "BloomConfig",
    "BloomFilter",
    "optimal_hashes",
    "optimal_size",
    "expected_density",
    "expected_false_pos",
]
