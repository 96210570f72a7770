"""PySpark-native feature-engineering engine with the data-processing
capability surface of aws-samples/amazon-security-lake-transformation-library.

Re-expressed Spark-first: declarative mapping configs compile to Catalyst
``Column`` trees (not per-row interpreted Python, cf. reference
``transformation_function/app.py:112-148``), plus the point-in-time / as-of
join + windowed feature surface (lag/lead, sessionize, forward-fill) the
north rule adds, and large-scale training-data ops (dedup, ANN, text stats).

Subpackages
-----------
operators   as-of join, window features, dedup, similarity, text stats
sources     source registry + ALB / Sysmon / NFW parsers (reference parity)
functions   mapping-JSON -> Column compiler, timestamp/enum helpers
plans       end-to-end transform pipeline, writer, manifest/resume
streaming   structured-streaming variants (session_window live path)
synth       deterministic synthetic transcripts generator (FIXTURES.md)
oracle      pure pandas/numpy reference implementations (test oracles)
"""

import sys as _sys

__version__ = "0.1.0"

if _sys.version_info < (3, 12):
    # pyspark workers import this package to unpickle the engine's UDFs;
    # from then on a task's start no longer re-reads pyspark.zip
    from . import _zipimport_cache  # noqa: F401
