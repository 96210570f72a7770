"""Storage-partitioned flagship: conv_id-bucketed, ts-sorted tables make
the LAKEHOUSE LAYOUT do the shuffle (SURVEY.md §4.2 "shuffle-free as-of
via storage layout"; the north rule's "sort-merge over conv_id-bucketed,
ts-sorted Iceberg partitions" — ``bucketBy``/``saveAsTable`` is the
offline stand-in for Iceberg's ``bucket(N, conv_id)`` partition
transform, same physical contract: scan reports hash partitioning +
per-bucket sort order).

Why this matters at 100 TB: the fused in-memory flagship needs exactly ONE
Exchange (operators/fused.py); over bucketed-sorted storage even that one
disappears — the feature window block, the build-side interval window, and
the as-of sort-merge join all consume the scan's partitioning/ordering
directly (zero Exchange AND zero Sort in the executed plan).
The write pays the shuffle ONCE; every subsequent feature build, backfill,
or point-in-time audit over the table pays zero. Plan shape is pinned by
tests/test_plans_quality.py::test_bucketed_flagship_zero_exchange.

One file per bucket: the writer repartitions by the bucket expression
first (same murmur3-pmod hash bucketBy uses), so each task holds exactly
one bucket and Spark's scan can expose the ``sortBy`` order (multi-file
buckets lose the sorted property and re-Sort, though never re-Exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join_interval
from ..operators.features import build_turn_features
from ..operators.fused import _out_columns, asof_turn_features_salted
from ..operators.salted import CARRY_FLOOR, hot_entities, in_hot, time_chunk


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 8,
    sort_cols: tuple[str, ...] = ("conv_id", "ts", "turn_idx"),
    path: str | None = None,
) -> None:
    """One-shuffle bucketed-sorted write; the shuffle this pays is the one
    every downstream read skips."""
    w = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(*sort_cols)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def register_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 8,
    sort_cols: tuple[str, ...] = ("conv_id", "ts", "turn_idx"),
) -> None:
    """Re-attach an ALREADY-WRITTEN bucketed layout to a fresh session's
    catalog without rewriting a byte (the in-memory catalog forgets tables
    between sessions; the files — whose names carry the bucket ids Spark's
    bucketed writer assigned — do not). This is the offline stand-in for an
    Iceberg catalog lookup: layout metadata lives with the table, sessions
    come and go.

    The declared ``n_buckets`` is VALIDATED against the bucket ids Spark's
    bucketed writer embedded in the part-file names (``..._00003.c000``):
    registering an on-disk N-bucket layout under a different declared
    count would make the zero-Exchange SMJ silently assume a
    co-partitioning that does not hold — wrong results, not just a slow
    plan. Raises ValueError on mismatch or when the directory carries no
    bucketed part files at all."""
    import os
    import re

    bucket_ids = set()
    for f in os.listdir(path):
        m = re.match(r"part-\d+-.*_(\d{5})\.c\d+.*\.parquet$", f)
        if m:
            bucket_ids.add(int(m.group(1)))
    if not bucket_ids:
        raise ValueError(
            f"{path} holds no bucketed part files (…_NNNNN.c000…): refusing "
            f"to register a non-bucketed layout as a bucketed table"
        )
    observed = max(bucket_ids) + 1
    if observed != n_buckets:
        raise ValueError(
            f"{path} was written with {observed} buckets (max embedded bucket "
            f"id {observed - 1}) but n_buckets={n_buckets} was declared. "
            f"(A trailing empty bucket could under-report `observed`, but our "
            f"writer produces one file per non-empty bucket and hash "
            f"bucketing leaves no empty buckets at any realistic row count.)"
        )
    schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in spark.read.parquet(path).schema.fields
    )
    spark.sql(
        f"CREATE TABLE `{table}` ({schema_ddl}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`) "
        f"SORTED BY ({', '.join(f'`{c}`' for c in sort_cols)}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def ensure_flagship_tables(
    spark: SparkSession,
    transcripts: DataFrame,
    conv_features: DataFrame,
    t_table: str,
    cf_table: str,
    n_buckets: int = 8,
    path_root: str | None = None,
) -> None:
    """Idempotent at two levels: a table already in the catalog is left
    alone; a layout already ON DISK (path_root given, _SUCCESS marker
    present) is re-registered without rewriting; only a genuinely missing
    layout pays the write shuffle."""
    import os

    if spark.catalog.tableExists(t_table) and spark.catalog.tableExists(cf_table):
        return
    specs = [
        (transcripts, t_table, ("conv_id", "ts", "turn_idx")),
        (conv_features, cf_table, ("conv_id", "ts")),
    ]
    for df, table, sort_cols in specs:
        path = f"{path_root}/{table}" if path_root else None
        if spark.catalog.tableExists(table):
            continue
        if path and os.path.exists(f"{path}/_SUCCESS"):
            register_bucketed_table(
                spark, table, path, n_buckets=n_buckets, sort_cols=sort_cols
            )
        else:
            write_bucketed_table(
                df, table, n_buckets=n_buckets, sort_cols=sort_cols, path=path
            )


def flagship_bucketed(
    spark: SparkSession,
    t_table: str,
    cf_table: str,
    gap_seconds: int = 1800,
    chunk_seconds: int = 6 * 3600,
) -> DataFrame:
    """The full flagship block over bucketed-sorted tables with ZERO
    Exchange: window feature block + interval-form sort-merge as-of
    (operators/asof.asof_join_interval: build rows become [ts, next_ts)
    validity intervals via an in-partition lead(), so each probe matches
    exactly one build row — no quadratic pair enumeration, no dedup
    window) — identical output to ``fused.asof_turn_features`` on the
    same rows (column-for-column; pinned by tests/test_fused.py and
    test_plans_quality.py).

    The interval SMJ still makes ``p_e x b_e`` narrow comparisons per
    entity, and bucketing cannot split one, so the hot-entity pre-pass
    (``salted.hot_entities``, band form, Exchange-free over the bucketed
    turns) names the entities :func:`_flagship_bucketed_routed` sends
    through chunk-and-carry; with none, the plan is the unrouted one."""
    t, cf = _bucketed_scans(spark, t_table, cf_table)
    hot = hot_entities(t, "conv_id", CARRY_FLOOR, band_rows=cf.count())
    if not hot:
        return _cold(t, cf, gap_seconds)
    return _flagship_bucketed_routed(
        spark, t_table, cf_table, hot, gap_seconds, chunk_seconds
    )


def _bucketed_scans(
    spark: SparkSession, t_table: str, cf_table: str
) -> tuple[DataFrame, DataFrame]:
    # Expose the per-bucket sortBy order from the scan (off by default
    # since multi-file buckets cannot guarantee it; our writer guarantees
    # one file per bucket). Scoped to bucketed scans only — no effect on
    # non-bucketed plans in the session.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return spark.table(t_table), spark.table(cf_table)


def _cold(t: DataFrame, cf: DataFrame, gap_seconds: int) -> DataFrame:
    # merge hint: force the sort-merge join ON THIS JOIN ONLY (a
    # broadcast would also be exchange-free here, but at 10^12 turns
    # the build side is one row per conversation — far beyond
    # broadcast; SMJ over co-bucketed scans is the plan that survives
    # scale). A hint, not spark.sql.autoBroadcastJoinThreshold, so
    # other joins in the session keep their auto-broadcast plans.
    feats = build_turn_features(t, gap_seconds=gap_seconds)
    out = asof_join_interval(
        feats,
        cf.hint("merge"),
        on="conv_id",
        ts="ts",
        build_cols=["feature_val"],
    )
    return out.select(
        *_out_columns(t, "conv_id", "ts", "asof_ts", ["feature_val"])
    )


def _flagship_bucketed_routed(
    spark: SparkSession,
    t_table: str,
    cf_table: str,
    hot: list,
    gap_seconds: int = 1800,
    chunk_seconds: int = 6 * 3600,
) -> DataFrame:
    """The routed plan for the named ``hot`` conversations: the tail keeps
    the zero-Exchange SMJ plan (a key-list filter preserves the scan's
    partitioning AND ordering), the hot slice runs the chunk-and-carry
    salted pipeline, and the two branches union."""
    t, cf = _bucketed_scans(spark, t_table, cf_table)
    is_hot = in_hot("conv_id", hot)
    cold_out = _cold(t.filter(~is_hot), cf.filter(~is_hot), gap_seconds)
    hot_out = asof_turn_features_salted(
        t.filter(is_hot),
        cf.filter(is_hot),
        time_chunk(chunk_seconds=chunk_seconds),
        gap_seconds=gap_seconds,
    )
    return cold_out.unionByName(hot_out.select(*cold_out.columns))
