"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference repo `medkhabt/Language_diversity_common_crawler`
(read-only at /root/reference), rebuilt Spark-first.

Layers
------
- ``functions``  : scalar/vectorized column functions (decode, boilerplate,
                   language-ID models, text analysis, dedup hashing, sampling)
- ``operators``  : DataFrame-level operators (histogram pivot, stats aggs,
                   crosstab, pagination, diversity indices)
- ``sources``    : pages table synthesis + snapshot-table catalog
- ``sinks``      : parity text-log sink, stats files, JSON dump
- ``frontier``   : 10^10-scale crawl frontier (canonicalize, bloom URL-seen,
                   politeness scheduler, robots cache, resumable rounds)
- ``streaming``  : Structured Streaming variant of the extract pipeline
- ``plans``      : end-to-end pipeline composition + explain helpers

Everything is DataFrame-declarative; heavy text functions are Arrow-vectorized
pandas UDFs (no per-row Python), per BASELINE.json input_hint.
"""

from . import pyworker

# every Python worker imports the package for its first task: from then on
# its per-task importlib.invalidate_caches() skips unchanged zip archives
pyworker.install()

__version__ = "0.1.0"
