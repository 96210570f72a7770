"""Line-level ingest: JSON-with-raw-fallback parse, Kinesis record decode,
control-event filter, S3 key url-decode.

Reference: transformation_function/app.py
  * per-line ``json.loads`` with ``{"rawData": line}`` fallback (:304-308)
  * base64 Kinesis payload decode + nested ``message`` extraction (:325-356)
  * ``s3:TestEvent`` skip (:262-264)
  * URL-decoded object key (:272)

All Spark builtins: gzip text files decompress automatically via the codec,
``from_json`` with a declared schema gives typed rows + pushdown-friendly
columns, corrupt rows route to the reject flow instead of being dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_lines(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """gzip'd (or plain) line files -> one ``value`` string column.
    Replaces GetObject+gunzip+iterate (app.py:283-295); at scale the file
    listing parallelizes and each file split pipelines into the parse.

    A single ``dir/<glob>`` path is split into ``.load(dir)`` +
    ``pathGlobFilter`` — same file set, but avoids Spark's streaming-sink
    metadata probe stat()ing the literal glob string, which logs a benign
    but stack-trace-bearing WARN (FileStreamSink.hasMetadata ->
    FileNotFoundException) on every batch read of a glob path.

    The rewrite is semantics-preserving ONLY when every glob match is a
    FILE: ``pathGlobFilter`` tests leaf file names, while a literal glob
    also matches directories (``logs/day=2024*`` reading the files UNDER
    each matching dir), and a glob matching nothing must still raise
    Spark's "Path does not exist". So the candidate is checked first with
    one driver-side ``FileSystem.globStatus`` (works on any Hadoop FS —
    local, s3a, hdfs; a listing the read performs anyway): any directory
    match or an empty match falls back to the literal-glob read, keeping
    the original behavior (and, for empty, the original error)."""
    if isinstance(paths, str):
        head, _, tail = paths.rpartition("/")
        if head and any(ch in tail for ch in "*?[") and not any(
            ch in head for ch in "*?["
        ):
            try:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(paths)
                fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
                statuses = fs.globStatus(jpath)
                all_files = statuses is not None and len(statuses) > 0 and all(
                    st.isFile() for st in statuses
                )
            except Exception:
                all_files = False  # private-API drift -> literal read
            if all_files:
                return (
                    spark.read.format("text")
                    .option("pathGlobFilter", tail)
                    .load(head)
                )
    return spark.read.text(paths)


def parse_json_lines(
    df: DataFrame,
    schema: T.StructType,
    line_col: str = "value",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Typed JSON parse with the reference's raw fallback (app.py:304-308):
    output columns = ``keep_cols`` passthrough + schema fields + ``rawData``
    (non-null only when the line failed to parse). PERMISSIVE from_json
    yields a struct of NULLs for corrupt lines, so failure is detected via
    the standard columnNameOfCorruptRecord idiom."""
    corrupt = "__corrupt"
    aug = T.StructType([*schema.fields, T.StructField(corrupt, T.StringType())])
    parsed = F.from_json(
        F.col(line_col), aug, {"columnNameOfCorruptRecord": corrupt, "mode": "PERMISSIVE"}
    )
    ok = parsed.getField(corrupt).isNull()
    cols = [
        F.when(ok, parsed.getField(f.name)).alias(f.name) for f in schema.fields
    ]
    return df.select(
        *[F.col(c) for c in keep_cols],
        *cols,
        F.when(~ok, F.col(line_col)).alias("rawData"),
    )


def decode_kinesis(df: DataFrame, data_col: str = "data") -> Column | DataFrame:
    """base64 -> utf-8 payload string (app.py:331)."""
    return df.withColumn("payload", F.unbase64(F.col(data_col)).cast("string"))


def drop_control_events(df: DataFrame, event_col: str = "Event") -> DataFrame:
    """Skip s3:TestEvent control messages (app.py:262-264)."""
    if event_col not in df.columns:
        return df
    return df.filter(
        F.col(event_col).isNull() | (F.col(event_col) != "s3:TestEvent")
    )


def url_decode_key(col: Column) -> Column:
    """URL-decode S3 object keys (app.py:272)."""
    return F.url_decode(col)
