"""User-defined-function surface beyond scalar pandas_udfs: a Python
UDTF (table function).

The reference's only extension point is a scalar per-row dict->dict
plugin (`preprocess_event`, transformation_function/app.py:59-60). The
rebuild's UDF story is tiered (SURVEY.md §2.B, UDF row):

  * scalar column math      -> JVM builtins (never Python)
  * batch text/vector ops   -> scalar pandas_udf / mapInPandas (Arrow)
  * AGGREGATES              -> JVM builtins; a statistic a builtin
    already computes (the IQR is ``percentile(v, array(0.25, 0.75))``,
    operators/profiling.iqr_by_group) never crosses into Python
  * custom TABLE FUNCTIONS  -> Python UDTF (this module): one row in,
    many rows out with its own output schema, composable in SQL via
    LATERAL. Arrow-batched when spark.sql.execution.pythonUDTF.arrow
    .enabled is set; per-row Python inside eval. It is hash-checked
    against the same DuckDB oracle as the JVM explode plan
    (operators/datasetops.chunk_tokens), which stays the production
    chunker.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql.functions import udtf


class ChunkTokensUDTF:
    """Python UDTF form of sliding-window chunking: identical row
    semantics to datasetops.chunk_tokens (same size/stride/ragged-tail
    rules), emitted from Python instead of a JVM posexplode, and checked
    against the same oracle.
    Wrapped by :func:`register_chunk_udtf`: decorating with ``@udtf`` at
    import time would parse the DDL return type and demand an active
    SparkSession."""

    def eval(self, text: str, size: int, stride: int):
        if text is None:
            return
        toks = text.split(" ")
        n = len(toks)
        n_chunks = 1 if n <= size else 1 + int(np.ceil((n - size) / stride))
        for i in range(n_chunks):
            start = i * stride
            clen = min(size, n - start)
            yield i, start, clen, " ".join(toks[start:start + clen])


def register_chunk_udtf(spark) -> None:
    wrapped = udtf(
        ChunkTokensUDTF,
        returnType="chunk_idx int, chunk_start int, chunk_len int, chunk_text string",
    )
    spark.udtf.register("chunk_tokens_udtf", wrapped)
