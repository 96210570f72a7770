"""Key-distribution diagnostics: the skew profile a pipeline operator
(shuffle-keyed join, window, groupBy) needs BEFORE it runs at 100 TB.

Every skew mitigation in this engine (salted flagship, the skew routers'
hot-entity rule in operators/salted.py) needs an input
statistic to act on. ``key_skew_profile`` computes that statistic as a
first-class operator: per-key row counts reduced to one summary row —
total rows, distinct keys, the max/p99/median key mass, the share held
by the top-N keys, the coefficient of variation, and the normalized
Shannon entropy of the key distribution (1.0 = perfectly balanced,
0.0 = one key holds everything).

Scale shape: ONE groupBy-count over the corpus (map-side partial agg —
the shuffle carries ≤ |keys| rows per partition), then every statistic
is an aggregate over the |keys|-sized count table; the top-N share uses
a sketch-sized sort (TakeOrderedAndProject semantics via a bounded
window on the count table, never the corpus). No corpus re-scan, no
driver collect.

The reference library has no profiling surface; this generalizes the
hot-entity pre-pass of fused.asof_turn_features_hybrid into a reusable
diagnostic (SURVEY.md §2.D training-pipeline extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["key_skew_profile", "mad_outliers", "iqr_by_group",
           "column_profile", "check_constraints"]


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """One-row skew summary of the ``key_col`` distribution.

    Columns: ``n_rows, n_keys, max_key_rows, p99_key_rows,
    median_key_rows, top_share, cv, entropy_norm`` (doubles rounded to 4
    decimals). ``top_share`` is the fraction of all rows held by the
    ``top_n`` heaviest keys (count-desc, key-asc tiebreak so the cut is
    deterministic under ties); ``entropy_norm`` is Shannon entropy of
    the key distribution divided by log2(n_keys) (NULL when n_keys = 1,
    where balance is undefined); ``cv`` is the population
    coefficient-of-variation of per-key counts (0 when n_keys = 1).
    """
    counts = (
        df.groupBy(F.col(key_col).cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("k"))
    # rank runs on the |keys|-sized count table (single-partition window
    # over the sketch-sized intermediate, not the corpus)
    ranked = counts.withColumn("rn", F.row_number().over(w))
    return ranked.agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
        F.max("c").alias("max_key_rows"),
        F.expr("percentile(c, 0.99)").alias("_p99"),
        F.expr("percentile(c, 0.5)").alias("_med"),
        F.sum(F.when(F.col("rn") <= top_n, F.col("c")).otherwise(0)).alias(
            "_top"
        ),
        F.stddev_pop("c").alias("_sd"),
        F.avg("c").alias("_mean"),
        F.sum(
            -(F.col("c").cast("double"))
            * F.log2(F.col("c").cast("double"))
        ).alias("_clogc"),
    ).select(
        F.col("_n").alias("n_rows"),
        F.col("_k").alias("n_keys"),
        "max_key_rows",
        (F.round("_p99", 4) + F.lit(0.0)).alias("p99_key_rows"),
        (F.round("_med", 4) + F.lit(0.0)).alias("median_key_rows"),
        (F.round(F.col("_top") / F.col("_n"), 4) + F.lit(0.0)).alias(
            "top_share"
        ),
        (F.round(F.col("_sd") / F.col("_mean"), 4) + F.lit(0.0)).alias("cv"),
        # H = log2(N) - (1/N) * sum(c*log2 c); normalized by log2(K).
        # Computed from the single c*log2(c) aggregate instead of a
        # second pass over per-key probabilities.
        (
            F.round(
                F.when(
                    F.col("_k") > 1,
                    (
                        F.log2(F.col("_n").cast("double"))
                        + F.col("_clogc") / F.col("_n")
                    )
                    / F.log2(F.col("_k").cast("double")),
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("entropy_norm"),
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier flags: a row is an outlier when
    ``|value - median| > k * 1.4826 * MAD`` (MAD = median absolute
    deviation; 1.4826 scales MAD to sigma-equivalent under normality, so
    ``k`` reads like a z-score but survives the heavy tails that wreck a
    mean/stddev gate at corpus scale).

    Returns the input columns plus ``med, mad, is_outlier``. Degenerate
    groups (MAD = 0: >=50% of values identical) flag only values
    strictly different from the median — the conventional fallback.

    Scale shape: two grouped EXACT-percentile aggregates (median, then
    median of |x - med|) joined back on the group key. All three
    shuffles hash the same key, so the exchange is planned once and
    reused; group-count-sized intermediates broadcast when small. Exact
    percentile buffers each GROUP's values on the reducer — right for
    grouping columns with bounded group size (event types, slices); for
    billion-row single groups swap in approx_percentile at the call
    site.
    """
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    with_med = df.join(med, group_col)
    mad = with_med.groupBy(group_col).agg(
        F.expr(f"percentile(abs({value_col} - med), 0.5)").alias("mad")
    )
    scaled = F.lit(k * 1.4826) * F.col("mad")
    return (
        with_med.join(mad, group_col)
        .withColumn(
            "is_outlier",
            F.when(
                F.col("mad") > 0,
                F.abs(F.col(value_col) - F.col("med")) > scaled,
            ).otherwise(F.col(value_col) != F.col("med")),
        )
    )


def iqr_by_group(df: DataFrame, value_col: str, *group_cols: str) -> DataFrame:
    """Per-group interquartile range ``iqr_value`` (4 dp) from the builtin
    exact ``percentile`` with linear interpolation — ANSI
    ``percentile_cont``, so DuckDB's ``quantile_cont(0.75) -
    quantile_cont(0.25)`` agrees. NULL values are skipped; an all-NULL
    group reads NULL. One hash aggregate on the group keys."""
    q = F.expr(f"percentile({value_col}, array(0.25, 0.75))")
    return df.groupBy(*group_cols).agg(
        F.round(q[1] - q[0], 4).alias("iqr_value")
    )


_NUMERIC_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}


def column_profile(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """One-pass column-level profile of a table: one output row per
    column with ``(column, n_rows, n_nulls, n_distinct, min_num,
    max_num, mean)`` — the drift/quality snapshot a pipeline records per
    ingest batch and diffs across snapshots (value-level drift is
    encoders.psi_drift; this is the column-level counterpart).

    Numeric statistics cover numeric columns plus timestamps/dates
    (profiled as epoch microseconds / days, so min/max are comparable
    across snapshots); they are NULL for string/binary columns. For
    temporal columns the MEAN is also NULL: summing epoch micros
    overflows the 2^53 exact-double range on even modest row counts, so
    the value would be summation-order-dependent (irreproducible across
    engines and partitionings). Doubles are rounded to 4 decimals.

    Scale shape: every statistic for every column comes from ONE
    aggregate pass (map-side partials). The exact per-column distinct
    counts compile to Spark's Expand strategy — the input is replayed
    once per distinct aggregate within the same scan, a deliberate
    exactness trade; swap in sketch.kmv_distinct per column when
    billions of distincts make Expand's shuffle too heavy. The 1-row
    wide aggregate is then unpivoted in-row to the long per-column
    shape (no second pass).
    """
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        t = dtypes[c]
        temporal = t.startswith("timestamp") or t == "date"
        if t in _NUMERIC_TYPES:
            num = F.col(c).cast("double")
        elif t.startswith("timestamp"):
            num = F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        elif t == "date":
            num = F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        else:
            num = None
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn{i}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd{i}"))
        if num is not None:
            aggs.append((F.round(F.min(num), 4) + F.lit(0.0)).alias(f"__mn{i}"))
            aggs.append((F.round(F.max(num), 4) + F.lit(0.0)).alias(f"__mx{i}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__mn{i}"))
            aggs.append(F.lit(None).cast("double").alias(f"__mx{i}"))
        if num is not None and not temporal:
            aggs.append((F.round(F.avg(num), 4) + F.lit(0.0)).alias(f"__av{i}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__av{i}"))
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nn{i}").alias("n_nulls"),
                F.col(f"__nd{i}").alias("n_distinct"),
                F.col(f"__mn{i}").alias("min_num"),
                F.col(f"__mx{i}").alias("max_num"),
                F.col(f"__av{i}").alias("mean"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def check_constraints(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Declarative data-quality gate (the dbt-test / expectation-suite
    staple): evaluate a list of constraints against a table in as few
    passes as the constraint classes allow and return one row per
    constraint: ``(name, kind, n_violations, passed)``.

    Supported kinds (each dict: ``{"name", "kind", ...params}``):

    * ``not_null``        {col} — NULL count
    * ``accepted_values`` {col, values} — rows outside the set (NULL ok)
    * ``range``           {col, lo, hi} — rows outside [lo, hi] (NULL ok)
    * ``regex``           {col, pattern} — non-NULL rows not matching
    * ``unique``          {cols} — rows beyond the first per key
    * ``fk``              {col, ref_df, ref_col} — non-NULL values absent
      from the reference column

    Scale shape: every ROW-LEVEL check (not_null / accepted_values /
    range / regex) folds into ONE conditional-aggregate scan — adding a
    50-check suite costs zero extra passes. Each ``unique`` is one
    hash aggregate counting ``rows − distinct keys`` (sum over keys of
    n−1, computed as two aggregates in one pass via count+count distinct
    — no row explosion). Each ``fk`` is one left-anti join against the
    reference keys (distinct-projected; AQE broadcasts dimension-sized
    refs). The result is a |checks|-sized table — collect-safe.
    """
    row_aggs, results = [], []
    for c in checks:
        kind = c["kind"]
        if kind == "not_null":
            expr = F.col(c["col"]).isNull()
        elif kind == "accepted_values":
            expr = F.col(c["col"]).isNotNull() & ~F.col(c["col"]).isin(
                *c["values"])
        elif kind == "range":
            expr = F.col(c["col"]).isNotNull() & (
                (F.col(c["col"]) < F.lit(c["lo"]))
                | (F.col(c["col"]) > F.lit(c["hi"])))
        elif kind == "regex":
            expr = F.col(c["col"]).isNotNull() & ~F.col(c["col"]).rlike(
                c["pattern"])
        elif kind in ("unique", "fk"):
            continue  # handled below (their own shapes)
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
        row_aggs.append(
            F.sum(expr.cast("long")).alias(c["name"])
        )

    spark = df.sparkSession
    if row_aggs:
        row_counts = df.agg(*row_aggs).collect()[0]
        for c in checks:
            if c["kind"] in ("unique", "fk"):
                continue
            n = int(row_counts[c["name"]] or 0)
            results.append((c["name"], c["kind"], n))

    for c in checks:
        if c["kind"] == "unique":
            # count(*) − count(DISTINCT cols): duplicate non-NULL tuples
            # PLUS every NULL-keyed row (count DISTINCT skips them — and a
            # NULL key cannot assert uniqueness, so it is a violation)
            agg = df.agg(
                (F.count(F.lit(1))
                 - F.count_distinct(*[F.col(x) for x in c["cols"]])
                 ).alias("v"),
            ).collect()[0]
            results.append((c["name"], "unique", int(agg["v"] or 0)))
        elif c["kind"] == "fk":
            ref = c["ref_df"].select(
                F.col(c["ref_col"]).alias("__ref")).distinct()
            n = (
                df.select(F.col(c["col"]).alias("__v"))
                .where(F.col("__v").isNotNull())
                .join(ref, F.col("__v") == F.col("__ref"), "left_anti")
                .count()
            )
            results.append((c["name"], "fk", int(n)))

    order = {c["name"]: i for i, c in enumerate(checks)}
    results.sort(key=lambda r: order[r[0]])
    return spark.createDataFrame(
        [(n, k, v, v == 0) for n, k, v in results],
        "name string, kind string, n_violations long, passed boolean",
    )
