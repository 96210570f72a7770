"""Agent-loop and self-repetition diagnostics over multi-turn transcripts.

Agent transcripts fail in a characteristic way the corpus-level dedup
passes (operators/dedup.py, chatprep.conv_prefix_fingerprint) cannot
see: a single conversation degenerates — the assistant re-emits
near-identical responses turn after turn, or a tool is invoked in an
uninterrupted run while the agent spins. These are WITHIN-conversation
signals, so they cost one window over ``conv_id`` and nothing else:

- :func:`consecutive_turn_similarity` — per assistant turn, similarity
  to the PREVIOUS assistant turn in the same conversation: normalized
  Levenshtein ratio (JVM ``levenshtein`` builtin on length-capped
  prefixes), token-set Jaccard, and an exact-repeat flag. The standard
  "model is looping" curation signal.
- :func:`tool_loop_runs` — gaps-and-islands run-length encoding of
  consecutive same-tool invocations per conversation; runs of length
  ``>= min_run`` are the agent-spin candidates.

Scale notes (10^12 turns): both operators are ONE Exchange + Sort on
``conv_id`` (the similarity lag and the island cumsum share the same
window spec; the run aggregate reuses the island partitioning), so on
the conv_id-bucketed lakehouse layout (plans/bucketed.py) they run with
zero Exchange like the flagship. Levenshtein is O(len_a · len_b) per
pair — ``max_chars`` caps the comparison to a prefix so the per-row
cost is bounded by a constant (512² char ops) regardless of a
pathological mega-turn; the cap is part of the feature's definition,
not an approximation of an uncapped one. No Python in any per-row path.

The reference library has no transcript-quality analog (its
``transformation_function/app.py:112-148`` is schema normalization
only); this module is part of the training-pipeline extension surface
(SURVEY.md §2.D).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "consecutive_turn_similarity",
    "tool_loop_runs",
]

_TOKEN_RE = "[^a-z0-9]+"


def _token_set(text_col):
    """Lowercased alphanumeric token SET (sorted, deduped) — sorted so
    both engines agree on the array and set-size semantics are exact."""
    return F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.lower(text_col), _TOKEN_RE),
                lambda x: x != F.lit(""),
            )
        )
    )


def consecutive_turn_similarity(
    transcripts: DataFrame,
    role: str = "assistant",
    max_chars: int = 512,
) -> DataFrame:
    """Similarity of each ``role`` turn to the previous ``role`` turn in
    the same conversation.

    Returns one row per ``role`` turn that HAS a predecessor:
    ``(conv_id, turn_idx, prev_turn_idx, lev_ratio, jaccard,
    exact_repeat)`` where

    - ``lev_ratio`` = ``1 - levenshtein(prev, cur)/greatest(len)`` over
      the first ``max_chars`` characters (1.0 = identical prefix,
      0.0 = fully different), rounded to 4 decimals;
    - ``jaccard`` = token-set Jaccard of the FULL texts, rounded to 4;
    - ``exact_repeat`` = full-text equality.

    Plan shape: filter to the role (pushed to the scan), ONE window
    (``conv_id`` partition, ``turn_idx`` order) for the lag, then a
    projection — the levenshtein/jaccard expressions are JVM builtins
    evaluated inside whole-stage codegen, never Python.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        transcripts.filter(F.col("role") == role)
        .select("conv_id", "turn_idx", "text")
        .withColumn("_prev_idx", F.lag("turn_idx").over(w))
        .withColumn("_prev_text", F.lag("text").over(w))
        .filter(F.col("_prev_idx").isNotNull())
    )
    cur = F.substring("text", 1, max_chars)
    prev = F.substring("_prev_text", 1, max_chars)
    maxlen = F.greatest(F.length(cur), F.length(prev))
    lev_ratio = F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(prev, cur) / maxlen.cast("double")
    )
    a, b = _token_set(F.col("text")), _token_set(F.col("_prev_text"))
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return t.select(
        "conv_id",
        "turn_idx",
        F.col("_prev_idx").alias("prev_turn_idx"),
        (F.round(lev_ratio, 4) + 0.0).alias("lev_ratio"),
        (F.round(jac, 4) + 0.0).alias("jaccard"),
        (F.col("text") == F.col("_prev_text")).alias("exact_repeat"),
    )


def tool_loop_runs(
    transcripts: DataFrame,
    min_run: int = 2,
) -> DataFrame:
    """Uninterrupted same-tool invocation runs per conversation.

    A "run" is a maximal block of CONSECUTIVE turns (by ``turn_idx``,
    any interleaved non-tool turn breaks it) whose ``tool`` is the same
    non-null value. Returns runs with ``run_len >= min_run``:
    ``(conv_id, tool, run_len, start_turn, end_turn)``.

    Gaps-and-islands: over the tool-turns of a conversation, a new
    island starts when the tool changes OR the turn_idx is not the
    immediate successor of the previous tool turn; island id is the
    running sum of the start flags; one aggregate per island. Two
    stacked windows + one hash agg, all partitioned by ``conv_id`` —
    a single Exchange end-to-end (zero on the bucketed layout).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    flagged = t.withColumn(
        "_new",
        (
            (F.col("tool") != F.lag("tool").over(w))
            | (F.col("turn_idx") != F.lag("turn_idx").over(w) + 1)
            | F.lag("tool").over(w).isNull()
        ).cast("int"),
    )
    islands = flagged.withColumn(
        "_run",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("conv_id", "_run", "tool")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("turn_idx").alias("start_turn"),
            F.max("turn_idx").alias("end_turn"),
        )
        .filter(F.col("run_len") >= min_run)
        .drop("_run")
    )
