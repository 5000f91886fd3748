"""mongodb_postproc_spark — a PySpark-native crawl-frontier + analytics engine.

A from-scratch re-expression of the capabilities of the reference pipeline
``hshts/mongoDB_postproc`` (see SURVEY.md) on the Spark DataFrame/SQL stack:

- ``crawl``      : URL frontier + fetch scheduler (canonicalize, bucketed
                   fingerprint seen-set, robots, per-host politeness windows, checkpoint/resume).
                   Semantics spec: /root/reference/findMissingPages.py:24-44.
- ``datagen``    : deterministic synthetic web + image/caption payload
                   generators (seeded; no wall clock).
- ``operators``  : the relational operator battery (scans, joins, aggs,
                   windows, set ops) mapped from SURVEY.md §2, plus
                   training-data pipeline ops (dedup, similarity, text).
- ``functions``  : scalar helpers (tri-state booleans, portable hashes).
- ``tables``     : snapshot-versioned parquet table catalog (Iceberg-shaped;
                   swaps to real Iceberg when the runtime jar is present).
"""

__version__ = "0.1.0"
