"""Large-scale data-pipeline operators (beyond the reference's own
surface, per BASELINE.json north star): deduplication, similarity search,
text analysis, multimodal column plumbing.

All Spark-first: JVM Column expressions wherever expressible (shingling,
hashing, minhash, simhash, fingerprints, quality metrics are pure
``pyspark.sql.functions`` — no Python in the hot path), pandas UDFs only
where vectorized numerics genuinely win (embedding math), ``mapInPandas``
for opaque binary payloads.
"""

from . import (
    bpe,
    cdc,
    dedup,
    graph,
    joins,
    metrics,
    multimodal,
    pipeline,
    similarity,
    sketch,
    split,
    text,
    validate,
)
from .. import _register_pickle_by_value
from . import _codecs

# the operators whose UDF bodies run module-level helpers in the workers
_register_pickle_by_value(dedup, similarity, text, multimodal, _codecs, sketch)

__all__ = [
    "bpe",
    "cdc",
    "dedup",
    "graph",
    "joins",
    "similarity",
    "split",
    "text",
    "multimodal",
    "pipeline",
    "metrics",
    "validate",
    "sketch",
]
