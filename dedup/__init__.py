"""pyspark-webdedup — PySpark-native near-duplicate detection & clustering.

A from-scratch rebuild of the *capability* of ``nvmnghia/Deduplication``
(a single-process Java/JDBC entity-resolution loop over pairwise LCS
string similarity) as an idiomatic, horizontally scalable Spark pipeline
over Common-Crawl-style web pages. See SURVEY.md for the full blueprint;
BASELINE.json carries the binding contract (north_rule / input_hint).

Nothing here is a port: the reference checkout is empty (SURVEY.md §0),
and the design derives solely from the BASELINE.json specification and
public MinHash/SimHash/LSH literature.
"""

from dedup import worker as _worker
from dedup.config import DedupConfig, DEFAULT_CONFIG, HIGH_RECALL_CONFIG

_worker.install()

__all__ = [
    "DedupConfig",
    "DEFAULT_CONFIG",
    "HIGH_RECALL_CONFIG",
    "get_spark",
    "run_dedup",
]
__version__ = "0.1.0"


def __getattr__(name):  # lazy: importing dedup must not drag in pyspark
    if name == "get_spark":
        from dedup.session import get_spark

        return get_spark
    if name == "run_dedup":
        from dedup.pipeline import run_dedup

        return run_dedup
    raise AttributeError(name)
