"""EastStorm-Spark: a from-scratch PySpark-native inverted-index build +
BM25 query engine with the capabilities of
JinghanMa98/EastStorm_SearchEngine (reference read-only at
/root/reference), per BASELINE.json north_rule.
"""

__version__ = "0.1.0"

from . import worker_guard as _worker_guard

_worker_guard.install()
