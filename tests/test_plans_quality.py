"""Physical-plan regression tests: the properties that keep the engine fast
at 100 TB must be visible in `.explain` output, not assumed — column
pruning reaching the parquet scan, predicate pushdown, broadcast joins for
dims, and exactly one Exchange for a multi-feature window block.

Plus snapshot time-travel semantics for the writer (Iceberg VERSION AS OF
analog over the manifest)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_doc_stats_prunes_scan_columns(spark):
    plan = _plan(entrymod.queries()["doc_stats"](spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # 5-column table, 2-column read: lang/source/n_chars never leave disk
    assert cols == {"doc_id", "text"}


def test_q3_pushes_filter_and_broadcasts(spark):
    plan = _plan(entrymod.queries()["q3_top_orders"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("c_mktsegment" in ln and "BUILDING" in ln for ln in pushed), pushed


def test_window_block_single_exchange(spark):
    plan = _plan(entrymod.queries()["lag_lead_events"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_rolling_range_frame_single_window(spark):
    """Both trailing-hour aggregates share one Window operator (one
    Exchange + one Sort) and never plan a self-join: a RANGE frame is a
    sliding pass, not a (row x window) enumeration."""
    plan = _plan(entrymod.queries()["rolling_1h_events"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1
    assert "Join" not in plan


@pytest.mark.parametrize(
    "query", ["ewma_events", "ewma_events_grouped", "iqr_value_by_user",
              "kmv_distinct_users", "corpus_overlap_kmv",
              "rolling_distinct_kmv_users", "normalize_text_docs",
              "multimodal_meta", "multimodal_frames"]
)
def test_ewma_and_iqr_queries_stay_on_the_jvm(spark, query):
    """Both EWMA names run the one rebased window form and the IQR runs
    the builtin percentile; the KMV reducer is a ranked window, NFC is
    ICU via ``java_method`` and the stand-in decoders are ``length``
    arithmetic: no Python node (FlatMapGroupsInPandas, MapInPandas,
    ArrowEvalPython, ...) in the executed plan."""
    plan = _plan(entrymod.queries()[query](spark, SF_DIR))
    assert "Python" not in plan and "Pandas" not in plan, plan


def test_kmv_synopsis_limits_each_group_before_the_exchange(spark):
    """The KMV reducer's per-partition bound: a Partial WindowGroupLimit
    (dense_rank, k) sits BELOW the Exchange, so the map side ships only
    each partition's k smallest distinct fractions per group."""
    plan = _plan(entrymod.queries()["kmv_distinct_users"](spark, SF_DIR))
    exchange = plan.find("Exchange hashpartitioning(g#")
    partial = re.search(r"WindowGroupLimit \[g#\d+\], \[frac#\d+ ASC NULLS "
                        r"LAST\], dense_rank\(frac#\d+\), 64, Partial", plan)
    assert exchange >= 0 and partial and partial.start() > exchange, plan
    assert plan.count("Exchange") == 1, plan


# (module, top-level function) of every Python crossing the package
# plans: each starts Python workers and ships rows over Arrow.
PYTHON_CROSSINGS = [
    ("operators/bpe.py", "bpe_subword_count"),
    ("operators/embedx.py", "gram_partials"),
    ("operators/langid.py", "lang_id_ngram"),
    ("operators/multimodal.py", "decode_audio"),
    ("operators/multimodal.py", "decode_image"),
    ("operators/multimodal.py", "resize_nearest"),
    ("operators/sketch.py", "mg_candidates"),
    ("operators/textstats.py", "char_entropy_arrow"),
    ("streaming/pipeline.py", "stateful_turn_features"),
]


def test_python_crossings_are_the_listed_ones():
    """AST inventory of the package's Python crossings (mapInPandas,
    mapInArrow, applyInPandas*, applyInArrow, transformWithState*,
    pandas_udf, udf — as a call or a decorator): a new one, or one
    moved to the JVM, must update PYTHON_CROSSINGS."""
    import ast
    import pathlib

    import amazon_security_lake_transformation_library_spark as pkg

    def crossing(node) -> bool:
        name = getattr(node, "attr", getattr(node, "id", ""))
        return (name in ("mapInPandas", "mapInArrow", "applyInArrow",
                         "pandas_udf", "udf")
                or name.startswith(("applyInPandas", "transformWithState")))

    root = pathlib.Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    sites = [node.func]
                elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    sites = [d for d in node.decorator_list
                             if not isinstance(d, ast.Call)]  # bare @udf
                else:
                    continue
                found += [(path.relative_to(root).as_posix(),
                           getattr(top, "name", "<module>"))
                          for site in sites if crossing(site)]
    assert sorted(found) == PYTHON_CROSSINGS


def test_sliding_window_is_expand_not_join(spark):
    """A 1h/15min sliding window assigns each event to its 4 windows via
    ONE Expand feeding a partial hash-agg — never a x4 self-join or
    cartesian (the shape that collapses at scale)."""
    plan = _plan(entrymod.queries()["sliding_rate_events"](spark, SF_DIR))
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "Cartesian" not in plan
    assert "partial" in plan  # map-side combine before the shuffle


def test_entry_plan_shape(spark):
    plan = _plan(entrymod.entry(spark))
    # feature window + as-of union window + build dedup window: bounded
    # number of exchanges, no cartesian, no Python evaluation in the plan
    assert plan.count("Exchange") <= 3
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_time_travel(spark, tmp_path):
    w = SnapshotWriter(str(tmp_path / "tbl"))
    df1 = spark.range(5).withColumnRenamed("id", "v")
    df2 = spark.range(5, 8).withColumnRenamed("id", "v")
    assert w.commit(df1, "s1")
    assert w.commit(df2, "s2")

    assert w.read(spark).count() == 8
    assert w.read_at(spark, "s1").count() == 5   # the past is stable
    assert w.read_at(spark, "s2").count() == 8
    snaps = {r[0]: r[1] for r in w.snapshots(spark).select("snapshot_id", "n_rows").collect()}
    assert snaps == {"s1": 5, "s2": 3}
    with pytest.raises(KeyError):
        w.read_at(spark, "nope")


def test_bucketed_flagship_zero_exchange(spark, tmp_path):
    """SURVEY.md §4.2 storage-partitioned flagship: over conv_id-bucketed,
    ts-sorted tables (one file per bucket) the ENTIRE flagship — window
    feature block + sort-merge as-of + latest-build dedup — plans with
    ZERO Exchange of any kind — and, since the interval-form as-of needs
    no dedup window, ZERO Sort: the layout did the shuffle AND the sort at
    write time; every window consumes the files' sortBy order directly."""
    from amazon_security_lake_transformation_library_spark.operators import fused
    from amazon_security_lake_transformation_library_spark.plans import bucketed
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features,
        gen_transcripts,
        write_parquet,
    )

    d = str(tmp_path)
    tp = gen_transcripts(200)
    write_parquet(tp, f"{d}/t.parquet")
    write_parquet(gen_conv_features(tp), f"{d}/cf.parquet")
    t = spark.read.parquet(f"{d}/t.parquet")
    cf = spark.read.parquet(f"{d}/cf.parquet")
    bucketed.ensure_flagship_tables(
        spark, t, cf, "tb_plan_test", "cfb_plan_test", path_root=f"{d}/tables"
    )
    out = bucketed.flagship_bucketed(spark, "tb_plan_test", "cfb_plan_test")

    plan = _plan(out)
    assert plan.count("Exchange") == 0, plan
    assert "SortMergeJoin" in plan
    assert len(re.findall(r"\bSort \[", plan)) == 0, plan
    # and the zero-shuffle plan is not a different answer: identical rows
    # to the fused in-memory flagship on the same inputs
    ref = fused.asof_turn_features(t, cf).select(*out.columns)
    assert out.exceptAll(ref).count() == 0
    assert ref.exceptAll(out).count() == 0

    # catalog re-attach (a NEW session finding the layout already on disk):
    # dropping the external tables keeps the files; register_bucketed_table
    # re-creates them from the _SUCCESS-marked directories without
    # rewriting a byte, and the re-registered plan is bit-identical in
    # shape — still zero Exchange, still the single dedup Sort.
    n_rows = out.count()
    spark.sql("DROP TABLE tb_plan_test")
    spark.sql("DROP TABLE cfb_plan_test")
    bucketed.ensure_flagship_tables(
        spark, None, None, "tb_plan_test", "cfb_plan_test",
        path_root=f"{d}/tables",
    )
    out2 = bucketed.flagship_bucketed(spark, "tb_plan_test", "cfb_plan_test")
    plan2 = _plan(out2)
    assert plan2.count("Exchange") == 0, plan2
    assert len(re.findall(r"\bSort \[", plan2)) == 0, plan2
    assert out2.count() == n_rows
    assert out2.exceptAll(ref).count() == 0


def test_bucketed_flagship_hot_router(spark, tmp_path):
    """§6.10 enforcement: flagship_bucketed ROUTES hot entities instead of
    running the interval SMJ into them. With the 10%-hot fixture's hot
    conversation named: (a) output is row-identical to the fused
    in-memory flagship (same oracle contract), (b) the plan is a union
    whose cold branch keeps the storage-partitioned zero-Exchange shape
    (key-list filters, no semi/anti joins; the only Exchanges come from
    the salted hot slice, whose (entity, chunk) repartition is the
    point), and (c) the front door, whose hot-entity rule names nothing
    in this small corpus, returns the unrouted zero-Exchange plan."""
    from amazon_security_lake_transformation_library_spark.operators import fused
    from amazon_security_lake_transformation_library_spark.operators.salted import (
        CARRY_FLOOR,
        hot_entities,
        in_hot,
    )
    from amazon_security_lake_transformation_library_spark.plans import bucketed
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features,
        gen_transcripts,
        write_parquet,
    )

    d = str(tmp_path)
    tp = gen_transcripts(200, hot_frac=0.10)
    write_parquet(tp, f"{d}/t.parquet")
    write_parquet(gen_conv_features(tp), f"{d}/cf.parquet")
    t = spark.read.parquet(f"{d}/t.parquet")
    cf = spark.read.parquet(f"{d}/cf.parquet")
    bucketed.ensure_flagship_tables(
        spark, t, cf, "tb_router_test", "cfb_router_test", path_root=f"{d}/tables"
    )
    hot = ["conv_00000000"]

    routed = bucketed._flagship_bucketed_routed(
        spark, "tb_router_test", "cfb_router_test", hot
    )
    plan = _plan(routed)
    assert "Union" in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    # the hot slice went salted: its (entity, chunk) repartition is the
    # only hashpartitioning Exchange that mentions the chunk column
    assert "__salt_chunk" in plan, plan
    # the tail branch alone: zero Exchange, zero Sort over the filtered scans
    tail = bucketed._cold(*(
        x.filter(~in_hot("conv_id", hot))
        for x in bucketed._bucketed_scans(spark, "tb_router_test", "cfb_router_test")
    ), 1800)
    assert _plan(tail).count("Exchange") == 0, _plan(tail)
    assert len(re.findall(r"\bSort \[", _plan(tail))) == 0, _plan(tail)
    # oracle contract: identical rows to the fused in-memory flagship
    ref = fused.asof_turn_features(t, cf).select(*routed.columns)
    assert routed.exceptAll(ref).count() == 0
    assert ref.exceptAll(routed).count() == 0

    # the front door: nothing is hot here -> the unrouted zero-Exchange plan
    assert hot_entities(
        spark.table("tb_router_test"), "conv_id", CARRY_FLOOR,
        band_rows=spark.table("cfb_router_test").count(),
    ) == []
    cold = bucketed.flagship_bucketed(spark, "tb_router_test", "cfb_router_test")
    cold_plan = _plan(cold)
    assert cold_plan.count("Exchange") == 0, cold_plan
    assert "Union" not in cold_plan


def test_bucketed_front_door_routes_hot_entity(spark, tmp_path):
    """flagship_bucketed itself routes a conversation that holds ~90% of
    the turns and whose estimated band comparisons (n^2 x |cf| / |t|)
    pass CARRY_FLOOR: the plan carries the salted hot slice, and the
    answer equals the fused in-memory flagship's."""
    from amazon_security_lake_transformation_library_spark.operators import fused
    from amazon_security_lake_transformation_library_spark.operators.salted import (
        CARRY_FLOOR,
    )
    from amazon_security_lake_transformation_library_spark.plans import bucketed
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features,
        gen_transcripts,
        write_parquet,
    )

    d = str(tmp_path)
    tp = gen_transcripts(200, hot_frac=0.9)
    cfp = gen_conv_features(tp)
    assert tp.groupby("conv_id").size().max() ** 2 * len(cfp) / len(tp) >= CARRY_FLOOR
    write_parquet(tp, f"{d}/t.parquet")
    write_parquet(cfp, f"{d}/cf.parquet")
    t = spark.read.parquet(f"{d}/t.parquet")
    cf = spark.read.parquet(f"{d}/cf.parquet")
    bucketed.ensure_flagship_tables(
        spark, t, cf, "tb_hot_front", "cfb_hot_front", path_root=f"{d}/tables"
    )
    out = bucketed.flagship_bucketed(spark, "tb_hot_front", "cfb_hot_front")
    plan = _plan(out)
    assert "__salt_chunk" in plan and "Union" in plan, plan
    ref = fused.asof_turn_features(t, cf).select(*out.columns)
    assert out.exceptAll(ref).count() == 0
    assert ref.exceptAll(out).count() == 0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_routed_driver_queries_plan_routed_shape(spark, sf):
    """The three routed-plan driver queries name their hot entities (the
    hottest conversation; the users with at least 39 change points), so
    each plans the routed shape at both gate scales — at sf0.001 too,
    where the hottest conversation has only 80 turns."""
    qs = entrymod.queries()
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    # chunk-and-carry: the (entity, chunk) repartition, past the plain
    # block's one Exchange
    plan = _plan(qs["flagship_transcripts_hybrid"](spark, sf_dir))
    assert "__salt_chunk" in plan and plan.count("Exchange") > 1, plan
    # the zero-Exchange cold branch unioned with the salted hot slice
    plan = _plan(qs["flagship_transcripts_bucketed"](spark, sf_dir))
    assert "__salt_chunk" in plan and "Union" in plan, plan
    # each skinny form plans one Union; the routed plan unions two of them
    plan = _plan(qs["asof_join_events_skinny_routed"](spark, sf_dir))
    assert plan.count("Union") == 3, plan


def test_chained_bucketed_output_stays_exchange_free(spark, tmp_path):
    """The pipeline composes: the flagship's OUTPUT written back through
    write_bucketed_table keeps the conv_id-bucketed ts-sorted contract, so
    the NEXT stage (here: next-turn prediction labels + a per-conversation
    cumulative feature — the dataset-assembly shape) also plans with ZERO
    Exchange and ZERO Sort. At 10^12 turns this is the property that makes
    the whole feature->label->assemble chain one shuffle TOTAL (the
    original bucketed write), not one per stage."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.plans import bucketed
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features,
        gen_transcripts,
        write_parquet,
    )

    d = str(tmp_path)
    tp = gen_transcripts(120)
    write_parquet(tp, f"{d}/t.parquet")
    write_parquet(gen_conv_features(tp), f"{d}/cf.parquet")
    t = spark.read.parquet(f"{d}/t.parquet")
    cf = spark.read.parquet(f"{d}/cf.parquet")
    bucketed.ensure_flagship_tables(
        spark, t, cf, "tb_chain_t", "cfb_chain_t", path_root=f"{d}/tables"
    )
    out = bucketed.flagship_bucketed(spark, "tb_chain_t", "cfb_chain_t")
    bucketed.write_bucketed_table(
        out, "features_chain_t", path=f"{d}/tables/features_chain_t"
    )

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    downstream = spark.table("features_chain_t").select(
        "conv_id",
        "turn_idx",
        F.lead("text").over(w).alias("next_text"),
        F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("tokens_so_far"),
    )
    plan = _plan(downstream)
    assert plan.count("Exchange") == 0, plan
    assert len(re.findall(r"\bSort \[", plan)) == 0, plan

    # and the chained read is the same data: recompute downstream directly
    # on the in-memory flagship output
    w_ref = downstream.select("conv_id", "turn_idx", "next_text", "tokens_so_far")
    ref = out.select(
        "conv_id",
        "turn_idx",
        F.lead("text").over(w).alias("next_text"),
        F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("tokens_so_far"),
    )
    assert w_ref.exceptAll(ref).count() == 0
    assert ref.exceptAll(w_ref).count() == 0
    for tbl in ("features_chain_t", "tb_chain_t", "cfb_chain_t"):
        spark.sql(f"DROP TABLE {tbl}")


def test_register_bucketed_table_validates_bucket_count(spark, tmp_path):
    """Registering an on-disk layout under a WRONG declared bucket count
    must fail loudly: the zero-Exchange SMJ would otherwise assume a
    co-partitioning that doesn't hold and return wrong joins. The bucket
    ids Spark embeds in part-file names are the ground truth."""
    import pytest

    from amazon_security_lake_transformation_library_spark.plans import bucketed
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_transcripts,
        write_parquet,
    )

    d = str(tmp_path)
    tp = gen_transcripts(100)
    write_parquet(tp, f"{d}/t.parquet")
    t = spark.read.parquet(f"{d}/t.parquet")
    bucketed.write_bucketed_table(
        t, "tb_val_test", n_buckets=8, path=f"{d}/tables/tb_val_test"
    )
    spark.sql("DROP TABLE tb_val_test")

    # wrong declared count: refused before any CREATE TABLE
    with pytest.raises(ValueError, match="bucket"):
        bucketed.register_bucketed_table(
            spark, "tb_val_test", f"{d}/tables/tb_val_test", n_buckets=16
        )
    assert not spark.catalog.tableExists("tb_val_test")

    # a non-bucketed directory is refused outright
    t.write.parquet(f"{d}/plain_dir")
    with pytest.raises(ValueError, match="no bucketed part files"):
        bucketed.register_bucketed_table(
            spark, "tb_val_test", f"{d}/plain_dir", n_buckets=8
        )

    # correct count registers and reads back the same rows
    bucketed.register_bucketed_table(
        spark, "tb_val_test", f"{d}/tables/tb_val_test", n_buckets=8
    )
    assert spark.table("tb_val_test").count() == t.count()
    spark.sql("DROP TABLE tb_val_test")


def test_curation_windows_zero_exchange_on_micros_sorted_layout(spark, tmp_path):
    """Layout-aware curation/encoder windows (BASELINE.md §7.7): on a
    table bucketed by conv_id and sorted (conv_id, ts_us) — integer
    epoch-micros materialized INTO the sort key — the full curation
    stage-2 (two broadcast-agg encoders + forward-horizon label +
    ordered target encoding) plans ZERO Exchange and ZERO Sort, because
    both windows order by the ts_us COLUMN (Sort elimination is
    syntactic; the unix_micros(cast(ts)) expression form re-sorts).
    Output must equal the expression-form pipeline on the same rows."""
    from amazon_security_lake_transformation_library_spark.operators.curation import label_horizon
    from amazon_security_lake_transformation_library_spark.operators.encoders import (
        frequency_encode, target_encode_ordered, zscore_by_group,
    )
    from amazon_security_lake_transformation_library_spark.plans import bucketed
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_transcripts, write_parquet,
    )

    d = str(tmp_path)
    write_parquet(gen_transcripts(200), f"{d}/t.parquet")
    t = spark.read.parquet(f"{d}/t.parquet").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    bucketed.write_bucketed_table(
        t, "tb_cur_plan", n_buckets=8, sort_cols=("conv_id", "ts_us"),
        path=f"{d}/tables/tb_cur_plan",
    )
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )

    def stage2(df, ts_col):
        x = zscore_by_group(df.withColumn("_len", F.length("text")), "_len", ["role"])
        x = frequency_encode(x, "tool")
        x = label_horizon(x, "conv_id", ts_col, F.col("role") == "assistant", 3600.0)
        x = target_encode_ordered(
            x, "conv_id", F.col("role") == "assistant", ts_col, prior=0.5
        )
        # z's group mean/std are partial-agg summation-order sensitive
        # (bucketed scan vs plain scan partition differently), so the
        # equality check compares it at 9 dp; everything else is exact
        return x.select("conv_id", "turn_idx", F.round("z", 9).alias("z"),
                        "freq", "label_n", "label", "te_n", "te")

    out = stage2(spark.table("tb_cur_plan"), "ts_us")
    plan = _plan(out)
    # the CORPUS never shuffles or sorts: no conv_id Exchange, no Sort
    # anywhere — both windows consume the bucketed files' sort order.
    # (The only Exchanges left are the tiny encoder-stats aggregates —
    # |roles|/|tools| rows after map-side partial agg — and their
    # broadcasts; at 10^12 turns those carry O(groups) rows, not corpus.)
    assert len(re.findall(r"Exchange hashpartitioning\(conv_id", plan)) == 0, plan
    assert len(re.findall(r"\bSort \[", plan)) == 0, plan
    assert "Bucketed: true" in plan
    # the expression-ordered form on the SAME bucketed scan re-sorts —
    # the syntactic-elimination contrast this layout exists to avoid
    plan_expr = _plan(
        stage2(spark.table("tb_cur_plan").withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))), "ts")
    )
    assert len(re.findall(r"\bSort \[", plan_expr)) >= 1, plan_expr

    # value equality with the expression-ordered form on the plain scan
    ref = stage2(t, "ts")
    assert out.exceptAll(ref).count() == 0
    assert ref.exceptAll(out).count() == 0
    spark.sql("DROP TABLE tb_cur_plan")


def test_funnel_pushes_step_filters_no_cartesian(spark):
    """Every raw-events scan in the funnel plan is pruned to one step's
    event type at the parquet reader, every join is a hash join on the
    entity key (no BroadcastNestedLoop / cartesian from the ts-range
    predicate), and the join sides after step 1 are the |entities|-sized
    aggregates."""
    plan = _plan(entrymod.queries()["funnel_steps_events"](spark, SF_DIR))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert all("EqualTo(event_type" in ln for ln in pushed), pushed
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_rolling_distinct_entity_partitioned_window(spark):
    """The islands window is partitioned by entity (never a global sort),
    and the final bucket count is a partial-aggregable HashAggregate —
    the plan never materializes a per-(bucket, entity) RANGE window."""
    plan = _plan(entrymod.queries()["rolling_distinct_users"](spark, SF_DIR))
    assert re.search(r"Window .*windowspecdefinition\(_e", plan), plan
    # lag + cumsum stack as two Window ops on ONE partition/order: a
    # single Exchange(_e) and a single Sort serve both, and the
    # (entity, island) aggregate rides the same partitioning (subset
    # clustering) — no exchange between the window stack and the agg
    assert plan.count("Window") == 2
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning\(_e#\d+L, \d+\)", plan)) == 1, plan
    # explode is the bounded per-island sequence, not a join enumeration
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_overlap_join_no_cartesian_binned_equijoin(spark):
    """The interval-overlap join must plan as a binned EQUI-join (hash or
    sort-merge on __bin [+ keys]) with the overlap test as a residual
    filter — never BroadcastNestedLoop/Cartesian — and must not add a
    post-join Exchange for dedup (first-common-bin is a filter)."""
    plan = _plan(entrymod.queries()["interval_overlap_sessions"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan)
    # no distinct/agg AFTER the join: the dedup is the first-bin predicate
    join_pos = min(p for p in (plan.find("SortMergeJoin"),
                               plan.find("ShuffledHashJoin"),
                               plan.find("BroadcastHashJoin")) if p >= 0)
    assert "HashAggregate" not in plan[:join_pos]


def test_select_budget_no_global_single_partition_window_on_corpus(spark):
    """Budget selection must not sort the corpus into one partition: the
    only SinglePartition exchange feeds the <=n_buckets histogram table;
    the corpus-side plan is hash-partitioned (bucket agg + broadcast
    threshold joins + the cut-bucket-partitioned window)."""
    plan = _plan(entrymod.queries()["select_budget_docs"](spark, SF_DIR))
    # the corpus window is partitioned by the cut bucket, never empty
    assert "Window [" in plan
    for ln in plan.splitlines():
        if "Window [" in ln and "_rowcum" in ln:
            assert "partitionBy" not in ln or "_b" in ln
    # broadcast the 1-row cut descriptor to the corpus side
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_semantic_decontaminate_broadcasts_eval(spark):
    """The eval side must broadcast (corpus streams once, zero shuffle on
    the probe side until the tiny distinct)."""
    plan = _plan(entrymod.queries()["decontaminate_semantic"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan  # crossJoin of broadcast eval
    assert "CartesianProduct" not in plan


def test_epoch_shuffle_zero_exchange(spark):
    """Epoch shuffle is a pure projection — no Exchange anywhere."""
    plan = _plan(entrymod.queries()["epoch_shard_docs"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_covariance_single_fold_aggregate(spark):
    """The Gram fold-back is ONE hash aggregate pair (partial+final) over
    the (i, j) triples; no window, no join on the row-count path until the
    tiny d^2-sized assembly joins (which must all be broadcast)."""
    plan = _plan(entrymod.queries()["embedding_covariance"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


@pytest.mark.parametrize("query", ["dedup_minhash_lsh", "dedup_simhash_hamming"])
def test_banded_pairs_no_aggregate_above_band_join(spark, query):
    """The LSH pair queries emit each pair from its first shared band:
    no aggregate above the band self-join, and no inferred ``size(``
    filter (exploding an array column would push one below the
    round-robin and run the signature pipeline twice)."""
    from amazon_security_lake_transformation_library_spark import caching

    df = entrymod.queries()[query](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _plan(df)  # AQE-final after the action
    caching.release_all()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan, plan
    join_pos = min(p for p in (plan.find("SortMergeJoin"),
                               plan.find("ShuffledHashJoin"),
                               plan.find("BroadcastHashJoin")) if p >= 0)
    assert "Aggregate" not in plan[:join_pos], plan
    assert not re.search(r"Filter [^\n]*size\(", plan), plan
