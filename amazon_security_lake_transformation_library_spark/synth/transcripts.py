"""Deterministic synthetic multi-turn transcripts (FIXTURES.md §1).

Schema (BASELINE.json ``input_hint``)::

    conv_id string, turn_idx int32, role string, text string,
    tool string (mostly NULL), ts timestamp (UTC, non-decreasing per conv)

Distributional requirements covered:
  * one hot conversation holding ~``hot_frac`` of all rows (skew/salting path)
  * Pareto long-tail over conversation lengths
  * inter-turn gaps including >30 min (session boundaries) and 0 s ties
  * NULL runs in ``tool`` spanning session boundaries (forward-fill)
  * ``text`` is a pure deterministic function of (conv_id, turn_idx)
    so byte-equality is checkable anywhere

Everything is seeded (default 42); no wall clock, no external data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

_VOCAB = (
    "the a of to and in is scan join agg window shuffle spark batch stream "
    "filter sort merge hash key value table row column query plan turn tool "
    "user agent reply call result state session token text feature vector"
).split()

_ROLES = np.array(["user", "assistant", "tool"])

BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized deterministic hash."""
    h = h.copy()
    h ^= h >> np.uint64(31)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(29)
    return h


def gen_transcripts(
    n_convs: int = 200,
    mean_turns: int = 20,
    seed: int = 42,
    hot_frac: float = 0.10,
    text_repeat: int = 1,
) -> pd.DataFrame:
    """Generate the transcripts table as a pandas DataFrame (sorted by
    conv_id, turn_idx). Deterministic for a given (n_convs, mean_turns,
    seed, hot_frac). Fully vectorized — the per-conversation python loop of
    the first version dominated wall time past ~10^5 turns; text content is
    a pure splitmix64 function of (conv_idx, turn_idx) so byte-equality
    remains checkable anywhere.
    """
    rng = np.random.default_rng(seed)

    lengths = np.maximum(
        2, (rng.pareto(1.7, n_convs) * mean_turns * 0.7 + 2).astype(np.int64)
    )
    lengths = np.minimum(lengths, mean_turns * 40)
    total0 = int(lengths.sum())
    # hot conversation: ~hot_frac of ALL rows ends up in conv 0
    lengths[0] = max(int(hot_frac / (1.0 - hot_frac) * total0), mean_turns * 4)
    total = int(lengths.sum())

    starts = np.zeros(n_convs, dtype=np.int64)
    starts[1:] = np.cumsum(lengths)[:-1]
    conv_of = np.repeat(np.arange(n_convs, dtype=np.int64), lengths)
    t = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)

    # roles: user/assistant alternate with perturbation, ~15% tool turns
    r = rng.random(total)
    roles = np.where(t % 2 == 0, "user", "assistant").astype(object)
    roles[r < 0.15] = "tool"
    roles[t == 0] = "user"

    tool_names = np.array([f"tool_{k:02d}" for k in range(12)], dtype=object)
    tools = np.full(total, None, dtype=object)
    mask = roles == "tool"
    tools[mask] = tool_names[rng.integers(0, 12, size=total)[mask]]

    # gaps (seconds): mostly short; ~7% > 30 min (session break); ~5% ties
    gaps = rng.exponential(45.0, size=total)
    u = rng.random(total)
    long_mask = u < 0.07
    gaps[long_mask] = 1801.0 + rng.exponential(1200.0, size=int(long_mask.sum()))
    gaps[(u >= 0.07) & (u < 0.12)] = 0.0  # equal-ts ties (tie-break turn_idx)
    gaps[t == 0] = 0.0
    cg = np.cumsum(gaps)
    within = cg - np.repeat(cg[starts] - gaps[starts], lengths)
    start_off = rng.integers(0, 86_400 * 30, size=n_convs).astype(np.float64)
    ts = BASE_TS + (
        (np.repeat(start_off, lengths) + within) * 1e6
    ).astype("timedelta64[us]")

    # text: deterministic token sequence from a splitmix64 of (conv, turn)
    h = _mix(
        conv_of.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        + t.astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
        + np.uint64(1)
    )
    n_words = (4 + (h % np.uint64(24)).astype(np.int64))
    vocab = np.array(_VOCAB, dtype=object)
    max_w = 27
    word_cols = [
        vocab[
            (
                _mix(h + np.uint64((0x9E3779B97F4A7C15 * (i + 1)) & 0xFFFFFFFFFFFFFFFF))
                % np.uint64(len(vocab))
            ).astype(np.int64)
        ]
        for i in range(max_w)
    ]
    words_mat = np.stack(word_cols, axis=1)
    conv_names = np.array([f"conv_{i:08d}" for i in range(n_convs)], dtype=object)
    cid = conv_names[conv_of]
    # text_repeat > 1 widens each turn's text toward realistic KB-scale
    # payloads (default rows average ~100 B; real transcripts are KBs).
    # Width only multiplies the payload the wide pipeline carries — the
    # narrow pre-pass of the salted/hybrid strategies is width-invariant,
    # which is exactly the trade bench_scaling's --text-repeat cell
    # measures. Deterministic: same words, repeated.
    texts = [
        f"{c}#{ti} " + " ".join(row[:nw])
        for c, ti, nw, row in zip(cid, t, n_words, words_mat)
    ]
    if text_repeat > 1:
        texts = [" ".join([s] * text_repeat) for s in texts]

    return pd.DataFrame(
        {
            "conv_id": cid,
            "turn_idx": t.astype("int32"),
            "role": roles,
            "text": texts,
            "tool": tools,
            "ts": ts,
        }
    )


def gen_conv_features(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Build-side table for the as-of join (FIXTURES.md §1 'as-of probes'):
    ``conv_features(conv_id, ts, feature_val)`` — cumulative user-turn count
    sampled at every third turn. Probe timestamps in the transcripts fall
    strictly between, exactly at, and before these feature timestamps,
    pinning the <= vs < semantics.
    """
    df = transcripts.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    cum = (
        (df["role"] == "user").astype("int64").groupby(df["conv_id"], sort=False).cumsum()
    )
    out = df.assign(feature_val=cum.astype("float64"))
    out = out[out["turn_idx"] % 3 == 0][["conv_id", "ts", "feature_val"]]
    # one feature row per (conv_id, ts): keep the last (matches as-of
    # tie-break 'latest build row wins')
    out = out.groupby(["conv_id", "ts"], as_index=False, sort=True).last()
    return out.reset_index(drop=True)


FIXTURE_ROOT = "/tmp/asltl_fixtures"


def n_convs_for_sf(sf: float) -> int:
    """Conversation count keyed to the driver testdata scale factor —
    shared by the flagship query and its oracle so both read the exact
    same deterministic fixture."""
    return max(20, int(40_000 * sf))


def sf_from_dir(sf_dir: str, default: float = 0.01) -> float:
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return default


def fixture_dir(sf: float) -> str:
    return f"{FIXTURE_ROOT}/transcripts_n{n_convs_for_sf(sf)}"


def ensure_fixture(sf: float, mean_turns: int = 20, seed: int = 42) -> str:
    """Materialize the synthesized transcripts + conv_features tables to
    parquet once per scale (atomic rename; content is a pure function of
    the arguments, so concurrent writers converge on identical bytes).

    This is what lets (a) the flagship query read a distributed parquet
    scan instead of shipping rows through the driver, and (b) the DuckDB
    oracle read the very same input via ``read_parquet``.
    """
    d = fixture_dir(sf)
    if os.path.exists(os.path.join(d, "_OK")):
        return d
    tmp = f"{d}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    tr = gen_transcripts(n_convs=n_convs_for_sf(sf), mean_turns=mean_turns, seed=seed)
    write_parquet(tr, os.path.join(tmp, "transcripts.parquet"))
    write_parquet(gen_conv_features(tr), os.path.join(tmp, "conv_features.parquet"))
    with open(os.path.join(tmp, "_OK"), "w") as fh:
        fh.write("ok\n")
    try:
        os.rename(tmp, d)
    except OSError:  # a concurrent writer won the rename; theirs is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def write_parquet(df: pd.DataFrame, path: str, row_group_size: int = 100_000) -> None:
    """Small row groups on purpose: parquet scans parallelize at row-group
    granularity, and one giant row group serializes the whole scan stage
    (pyarrow's 1M-row default caps a 3M-row file at ~3 scan tasks).

    Timestamps are stored in microseconds: Spark refuses parquet
    ``TIMESTAMP(NANOS)``, which a pandas ``datetime64[ns]`` column would
    otherwise become. A value with sub-microsecond digits raises rather
    than being truncated."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        row_group_size=row_group_size,
        coerce_timestamps="us",
    )


def gen_feature_log(
    pdf,
    features: tuple[str, ...] = ("f0", "f1", "f2", "f3"),
    every: int = 3,
):
    """Deterministic skinny EAV feature log derived from a transcripts
    frame: every ``every``-th turn emits an update for one of the
    rotating ``features``, value = text length; deduped to unique
    ``(conv_id, feature, ts)`` — asof_join_skinny's precondition.
    Single definition shared by jobs/assemble_features.py (--synth),
    tools/bench_scaling.py and the streaming batch-equivalence tests."""
    upd = pdf[pdf["turn_idx"] % every == 0].copy()
    upd["feature"] = [
        features[int(i / every) % len(features)] for i in upd["turn_idx"]
    ]
    upd["value"] = upd["text"].str.len().astype("float64")
    return (
        upd[["conv_id", "ts", "feature", "value"]]
        .groupby(["conv_id", "feature", "ts"], as_index=False)["value"]
        .max()
    )
