"""spark_pipeline_ops — training-data pipeline operators on Spark, built
beside the JSON engine (:mod:`datafusion_functions_json_spark`).

This package may import the JSON engine; the engine never imports it.

* ``operators`` — deduplication, similarity search, text analysis,
  multimodal column plumbing, CDC, splits and data-quality gates;
* ``streaming`` — structured-streaming composition helpers;
* ``oracle_twin`` — pure-Python twins of the LSH operators, the
  value oracles of the driver entries that run them;
* ``plans`` — plan inspection helpers (``explain_str``,
  ``plan_size_bytes``, ``needs_spread``);
* ``register_pipeline(spark)`` — the scan-speed text functions as SQL
  UDFs.

``operators`` and ``streaming`` register the modules whose code runs in
the workers for by-value pickling when they are imported, so their UDFs
unpickle on executors that cannot import this package.
"""

from .register import register_pipeline

__all__ = ["register_pipeline"]
